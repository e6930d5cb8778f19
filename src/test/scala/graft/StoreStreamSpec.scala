package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.store.CorpusStore
import graft.streaming.StreamIngest

class StoreStreamSpec extends SparkSpec {
  import spark.implicits._

  test("CorpusStore: append accumulates, overwrite resets, isReady flips") {
    val dir = Files.createTempDirectory("graft-store").toString + "/corpus"
    assert(!CorpusStore.isReady(spark, dir))
    val a = Seq((1L, "one"), (2L, "two")).toDF("id", "text")
    CorpusStore.append(a, dir)
    assert(CorpusStore.isReady(spark, dir))
    CorpusStore.append(a, dir)
    assert(CorpusStore.load(spark, dir).count() == 4) // vectorDb.ts:7-9 push semantics
    CorpusStore.overwrite(a, dir)                     // vectorDb.ts:54-56 reset + reload
    assert(CorpusStore.load(spark, dir).count() == 2)
  }

  test("backfillPartitions replaces only the written partitions; other files untouched; plain overwrite clobbers") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-backfill").toString + "/t"
    val base = Seq(("a", 1L, 10.0), ("a", 2L, 20.0),
      ("b", 3L, 30.0), ("c", 4L, 40.0)).toDF("day", "id", "v")
    CorpusStore.overwrite(base, dir, Seq("day"))
    def files(day: String): Set[(String, Long)] = {
      val d = new java.io.File(s"$dir/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length())).toSet
    }
    val bBefore = files("b"); val cBefore = files("c")
    // backfill day a only: values doubled
    CorpusStore.backfillPartitions(
      base.filter(col("day") === "a").withColumn("v", col("v") * 2),
      dir, Seq("day"))
    val back = CorpusStore.load(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(back == Set((1L, 20.0), (2L, 40.0), (3L, 30.0), (4L, 40.0)))
    assert(files("b") == bBefore && files("c") == cBefore,
      "untouched partitions' files must not be rewritten")
    // contrast: a PLAIN overwrite of the same patch clobbers the table
    CorpusStore.overwrite(
      base.filter(col("day") === "a"), dir, Seq("day"))
    assert(CorpusStore.load(spark, dir).count() == 2,
      "static overwrite drops the other partitions — the footgun backfill avoids")
  }

  test("streaming ingest: file source -> chunk+featurize -> append sink") {
    val src = Files.createTempDirectory("graft-stream-src").toString
    val dst = Files.createTempDirectory("graft-stream-dst").toString
    val ckp = Files.createTempDirectory("graft-stream-ckp").toString
    // two source FILES arriving as separate micro-batches
    // (maxFilesPerTrigger=1 = the reference's one-batch-at-a-time rate
    // limit, App.tsx:88-90); the file stream source lists plain files,
    // so flatten each write's part file out of its output directory
    def writeAsFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = Files.createTempDirectory("graft-stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(s"$src/$name"))
    }
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(20).cache()
    writeAsFile(docs.limit(10), "f1.parquet")
    writeAsFile(docs.orderBy(col("doc_id").desc).limit(10), "f2.parquet")
    val stream = StreamIngest.ingestStream(spark, src, chunkSize = 100,
      overlap = 20, dim = 16, maxFilesPerTrigger = 1)
    val q = StreamIngest.toParquetSink(stream, dst, ckp).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(dst)
    assert(out.count() > 0)
    assert(out.columns.toSet == Set("doc_id", "pos", "chunk", "embedding"))
    // streamed result == batch result over the same inputs, ROW-LEVEL:
    // the symmetric difference must be empty (count-only equality would
    // pass a reordered, duplicated-and-dropped, or corrupted stream)
    val batch = StreamIngest.chunkAndEmbed(
      spark.read.parquet(s"$src/f1.parquet", s"$src/f2.parquet"), 100, 20, 16)
    val diff = out.exceptAll(batch).count() + batch.exceptAll(out).count()
    assert(diff == 0, s"stream vs batch symmetric difference: $diff rows")
    assert(out.count() == batch.count())
  }

  test("streaming event-time window agg with watermark (memory sink)") {
    val events = graft.io.Tables.events(spark, sf0001)
    val src = Files.createTempDirectory("graft-events").toString
    events.limit(500).write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
    val agg = StreamIngest.eventCountsStream(stream)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("evt_counts").start()
    q.processAllAvailable()
    q.stop()
    // append mode emits only watermark-closed windows; with one batch the
    // final windows stay open, so assert the query ran and the schema holds
    val out = spark.table("evt_counts")
    assert(out.columns.toSet == Set("window", "event_type", "n", "sum_value"))
  }

  test("streaming exact dedup: duplicates across micro-batches dropped (stateful)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .dropDuplicates("text") // keyed state across batches
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup").start()
    input.addData((0L, "alpha"), (1L, "beta"), (2L, "alpha"))
    q.processAllAvailable()
    input.addData((3L, "beta"), (4L, "gamma")) // dups from batch 1 + a new text
    q.processAllAvailable()
    q.stop()
    val texts = spark.table("stream_dedup").collect().map(_.getString(1)).sorted
    assert(texts.toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("streaming incremental index maintenance: foreachBatch appends, probe ≡ rebuild") {
    // the reference's core loop — embed batch, add to the index
    // (App.tsx:79) — as Structured Streaming: each micro-batch assigns
    // against the FROZEN centroids and appends into the partitioned
    // layout; after the stream drains, probing the incrementally-built
    // index matches a from-scratch rebuild row-for-row
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.search.Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ivf").toString + "/index"
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    // the first-class sink: self-initializing append into the
    // partitioned layout, batch-id markers for replay idempotence
    val q = graft.streaming.StreamIngest.ivfMaintenanceSink(
      input.toDF().toDF("vec_id", "embedding"), cents, dir).start()
    rows.grouped(200).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val query = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    val streamed = graft.search.Ann.ivfIndexTopK(spark, dir, query, cents, 5, 3)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    val rebuiltDir = java.nio.file.Files.createTempDirectory("graft-stream-ivf2").toString + "/index"
    graft.search.Ann.buildIvfIndex(emb, cents, rebuiltDir)
    val rebuilt = graft.search.Ann.ivfIndexTopK(spark, rebuiltDir, query, cents, 5, 3)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(streamed == rebuilt, s"streamed $streamed != rebuilt $rebuilt")
  }

  test("policy sink: in-distribution batch logs nothing, drifting batch logs the retrain order, replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents: Seq[Seq[Double]] = graft.search.Ann
      .centroids(emb, "label", "embedding")
      .orderBy(col("key")).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-policy").toString + "/index"
    graft.search.Ann.buildIvfIndex(
      emb.select(col("vec_id"), col("embedding")), cents, dir)
    graft.search.Ann.recordIvfModel(spark, dir, cents)
    // thresholds are POLICY: micro-batches dilute drift by |batch|/n,
    // so the per-batch gate sits tighter than the batch default
    val rules = Seq(graft.store.MaintenanceRule(
      "ivf", "assignment_drift", 0.001, "retrain"))
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIngest.ivfPolicySink(
      input.toDF().toDF("vec_id", "embedding"), cents, dir,
      "events_vec", rules).start()
    // batch 0: 30 duplicated in-distribution rows — mean assigned sim
    // barely moves, NO action may be logged
    input.addData(rows.take(30).map { case (id, v) => (id + 100000, v) })
    q.processAllAvailable()
    // batch 1: 30 NEGATED rows — the frozen centroids fit them badly,
    // cumulative drift crosses the gate, the retrain order is logged
    input.addData(rows.take(30).map { case (id, v) =>
      (id + 200000, v.map(x => -x)) })
    q.processAllAvailable()
    q.stop()
    val log = spark.read.parquet(s"$dir.oplog")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("action"), r.getAs[String]("index_name")))
    assert(log.toSeq == Seq((1L, "retrain", "events_vec")),
      s"order book must carry exactly the drifting batch's retrain: ${log.toSeq}")
    // restart replay of the same batches: markers make it a no-op for
    // the append AND the log together
    val q2 = graft.streaming.StreamIngest.ivfPolicySink(
      input.toDF().toDF("vec_id", "embedding"), cents, dir,
      "events_vec", rules).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir.oplog").count() == 1L,
      "replay must not double-log")
    val n = spark.read.parquet(dir).count()
    assert(n == emb.count() + 60, s"replay must not double-append: $n")
  }

  test("IVF-PQ policy sink: clean batch logs nothing, off-distribution batch logs the retrain, replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.search.Ann.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
    val cb = graft.search.Pq.train(emb, "vec_id", "embedding", 64, 8, 16, 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-pqpolicy").toString + "/index"
    graft.search.Pq.buildIvfPqIndex(emb, cents, cb, dir)
    graft.search.Pq.recordIvfPqModel(spark, dir, cb)
    val rules = Seq(graft.store.MaintenanceRule(
      "ivfpq", "recon_drift", 0.001, "retrain"))
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIngest.ivfPqPolicySink(
      input.toDF().toDF("vec_id", "embedding"), cents, cb, dir,
      "events_pq", rules).start()
    // batch 0: the WHOLE corpus duplicated — the mean reconstruction
    // error is unchanged by construction, nothing may be logged
    input.addData(rows.map { case (id, v) => (id + 100000, v) })
    q.processAllAvailable()
    // batch 1: negated rows encode badly through the frozen codebooks
    input.addData(rows.take(50).map { case (id, v) =>
      (id + 200000, v.map(x => -x)) })
    q.processAllAvailable()
    q.stop()
    val log = spark.read.parquet(s"$dir.oplog")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("action"), r.getAs[String]("index_name")))
    assert(log.toSeq == Seq((1L, "retrain", "events_pq")), log.toSeq.toString)
    val q2 = graft.streaming.StreamIngest.ivfPqPolicySink(
      input.toDF().toDF("vec_id", "embedding"), cents, cb, dir,
      "events_pq", rules).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir.oplog").count() == 1L,
      "replay must not double-log")
  }

  test("BM25 policy sink: healthy batches log nothing, out-of-band delete debt surfaces at the next batch, replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-bmpolicy").toString + "/index"
    val rules = Seq(graft.store.MaintenanceRule(
      "bm25", "tombstone_ratio", 0.10, "compact"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamIngest.bm25PolicySink(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", dir,
      "docs_bm25", rules).start()
    // batch 0 builds; no tombstones exist -> nothing logged
    input.addData(rows.dropRight(5)); q.processAllAvailable()
    // a 20% delete lands OUT-OF-BAND between micro-batches; the NEXT
    // applied batch's evaluation surfaces the accumulated debt
    graft.search.Lexical.deleteFromBm25Index(
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")),
      "doc_id", dir)
    input.addData(rows.takeRight(5)); q.processAllAvailable()
    q.stop()
    val log = spark.read.parquet(s"$dir.oplog")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("action"), r.getAs[String]("signal")))
    assert(log.toSeq == Seq((1L, "compact", "tombstone_ratio")),
      log.toSeq.toString)
    val q2 = graft.streaming.StreamIngest.bm25PolicySink(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", dir,
      "docs_bm25", rules).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir.oplog").count() == 1L,
      "replay must not double-log")
  }

  test("kNN-graph policy sink: small overlay stays quiet, heavy append crosses edge-debt and logs compact, replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-gpolicy").toString + "/index"
    graft.search.KnnGraph.writeGraphIndex(
      graft.search.KnnGraph.exact(emb, 5), emb, dir)
    val rules = Seq(graft.store.MaintenanceRule(
      "graph", "edge_debt", 2.0, "compact"))
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIngest.knnGraphPolicySink(
      input.toDF().toDF("vec_id", "embedding"), dir, 5,
      "emb_graph", rules).start()
    // batch 0: ONE node — overlay ~2n rows over an n·k floor stays
    // under the 2.0 debt gate
    input.addData(rows.take(1).map { case (id, v) => (id + 100000, v) })
    q.processAllAvailable()
    // batch 1: 30 nodes — overlay ~60n rows, debt far over the gate
    input.addData(rows.take(30).map { case (id, v) => (id + 200000, v) })
    q.processAllAvailable()
    q.stop()
    val log = spark.read.parquet(s"$dir.oplog")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("action"), r.getAs[String]("signal")))
    assert(log.toSeq == Seq((1L, "compact", "edge_debt")), log.toSeq.toString)
    val q2 = graft.streaming.StreamIngest.knnGraphPolicySink(
      input.toDF().toDF("vec_id", "embedding"), dir, 5,
      "emb_graph", rules).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir.oplog").count() == 1L,
      "replay must not double-log")
  }

  test("SQ8 policy sink: in-distribution batch logs nothing, drifting batch logs the retrain order, replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents: Seq[Seq[Double]] = graft.search.Ann
      .centroids(emb, "label", "embedding")
      .orderBy(col("key")).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-sqpolicy").toString + "/index"
    graft.search.Sq.buildIvfSqIndex(
      emb.select(col("vec_id"), col("embedding")), cents, dir)
    graft.search.Sq.recordIvfSqModel(spark, dir, cents)
    val rules = Seq(graft.store.MaintenanceRule(
      "sq8", "assignment_drift", 0.001, "retrain"))
    val rows = emb.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIngest.ivfSqPolicySink(
      input.toDF().toDF("vec_id", "embedding"), cents, dir,
      "events_sq8", rules).start()
    // batch 0: the whole corpus duplicated — mean assigned sim is
    // unchanged by construction, nothing may be logged
    input.addData(rows.map { case (id, v) => (id + 100000, v) })
    q.processAllAvailable()
    // batch 1: negated rows assign badly against the frozen centroids
    input.addData(rows.take(50).map { case (id, v) =>
      (id + 200000, v.map(x => -x)) })
    q.processAllAvailable()
    q.stop()
    val log = spark.read.parquet(s"$dir.oplog")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("action"), r.getAs[String]("index_name")))
    assert(log.toSeq == Seq((1L, "retrain", "events_sq8")), log.toSeq.toString)
    val q2 = graft.streaming.StreamIngest.ivfSqPolicySink(
      input.toDF().toDF("vec_id", "embedding"), cents, dir,
      "events_sq8", rules).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir.oplog").count() == 1L,
      "replay must not double-log")
    // the order book over the sink's own oplog: one outstanding order,
    // fired once, at the drifting batch — the executor's worklist
    // composes directly over what the sink wrote
    val book = graft.store.Maintenance.orderBook(spark, dir).collect()
    assert(book.length == 1 &&
      book.head.getAs[String]("action") == "retrain" &&
      book.head.getAs[Long]("first_batch") == 1L &&
      book.head.getAs[Long]("last_batch") == 1L &&
      book.head.getAs[Long]("n_fired") == 1L, book.toSeq.toString)
  }

  test("SQ8 policy DRAIN sink: the window drains the open book inside the batch marker; an empty window appends nothing; restart replay double-drains nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents: Seq[Seq[Double]] = graft.search.Ann
      .centroids(emb, "label", "embedding")
      .orderBy(col("key")).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-sqdrain").toString
    val dir = s"$root/index"
    graft.search.Sq.buildIvfSqIndex(
      emb.select(col("vec_id"), col("embedding")), cents, dir)
    graft.search.Sq.recordIvfSqModel(spark, dir, cents)
    val rules = Seq(graft.store.MaintenanceRule(
      "sq8", "assignment_drift", 0.001, "retrain"))
    var win = 0
    val dispatcherFor: Long => graft.store.Maintenance.DrainDispatcher =
      _ => {
        win += 1
        new graft.store.Maintenance.SqDrainDispatcher(spark, "events_sq8",
          dir, cents.size, 2, s"$root/rt$win", s"$root/cmp$win")
      }
    def sink(input: MemoryStream[(Long, Seq[Float])]) =
      graft.streaming.StreamIngest.ivfSqPolicyDrainSink(
        input.toDF().toDF("vec_id", "embedding"), cents, dir, "events_sq8",
        drainEvery = 2, budgetRows = Long.MaxValue, dispatcherFor, rules)
    val rows = emb.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = sink(input).start()
    // batches 0 and 1 drift (negated rows); the window closes at
    // batch 1 and the sink itself drains — no human caller
    input.addData(rows.take(50).map { case (id, v) =>
      (id + 100000, v.map(x => -x)) })
    q.processAllAvailable()
    input.addData(rows.slice(50, 100).map { case (id, v) =>
      (id + 200000, v.map(x => -x)) })
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$dir.oplog").count() == 2L)
    val acks = spark.read.parquet(s"$dir.resolutions").collect()
    assert(acks.length == 1 && acks.head.getAs[String]("action") == "retrain"
      && acks.head.getAs[Long]("first_batch") == 0L
      && acks.head.getAs[Long]("last_batch") == 1L
      && acks.head.getAs[Long]("n_fired") == 2L
      && acks.head.getAs[Boolean]("resolved"), acks.toSeq.toString)
    assert(win == 1, "exactly one drain window ran")
    // the acknowledged book is fully closed
    assert(graft.store.Maintenance.openOrders(spark, dir).isEmpty)
    // restart replay: the same batch id re-delivers; the marker skips
    // append + log + drain together
    val nIndexed = spark.read.parquet(s"$dir/codes").count()
    val q2 = sink(input).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir.oplog").count() == 2L,
      "replay must not double-log")
    assert(spark.read.parquet(s"$dir.resolutions").count() == 1L,
      "replay must not double-drain")
    assert(spark.read.parquet(s"$dir/codes").count() == nIndexed,
      "replay must not double-append")
    assert(win == 1, "replay must not open a second drain window")
    // two IN-distribution batches: nothing fires, and the batch-3
    // window sees an EMPTY open book — it must not dispatch, not
    // re-read signals, and not grow the acknowledgment sidecar
    val q3 = sink(input).start()
    input.addData(rows.take(30).map { case (id, v) => (id + 300000, v) })
    q3.processAllAvailable()
    input.addData(rows.take(30).map { case (id, v) => (id + 400000, v) })
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(s"$dir.oplog").count() == 2L)
    assert(spark.read.parquet(s"$dir.resolutions").count() == 1L,
      "an empty window must append no acknowledgments")
    // the window-2 dispatcher was constructed (cheap) but never
    // dispatched: no remedy generation was written
    assert(!graft.io.Fs.exists(spark, s"$root/rt2") &&
      !graft.io.Fs.exists(spark, s"$root/cmp2"),
      "an empty open book must not run any remedy")
  }

  test("LSH policy DRAIN sink: the window compacts the open debt and acknowledges; replay double-drains nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planes = graft.search.Ann.planes(64, 4)
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-lshdrain").toString
    val dir = s"$root/index"
    graft.search.Ann.buildLshIndex(emb, planes, dir)
    val rules = Seq(graft.store.MaintenanceRule(
      "lsh", "tombstone_ratio", 0.10, "compact"))
    var win = 0
    val dispatcherFor: Long => graft.store.Maintenance.DrainDispatcher =
      _ => {
        win += 1
        new graft.store.Maintenance.LshDrainDispatcher(spark, "emb_lsh",
          dir, s"$root/cmp$win")
      }
    def sink(input: MemoryStream[(Long, Seq[Float])]) =
      graft.streaming.StreamIngest.lshPolicyDrainSink(
        input.toDF().toDF("vec_id", "embedding"), planes, dir, "emb_lsh",
        drainEvery = 2, budgetRows = Long.MaxValue, dispatcherFor, rules)
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = sink(input).start()
    input.addData(rows.take(30).map { case (id, v) => (id + 100000, v) })
    q.processAllAvailable()
    // out-of-band delete: surfaces at the NEXT batch's evaluation,
    // whose window then drains it — no human caller
    graft.search.Ann.deleteFromLshIndex(
      emb.filter(col("vec_id") % 3 === 0), dir)
    input.addData(rows.take(30).map { case (id, v) => (id + 200000, v) })
    q.processAllAvailable()
    q.stop()
    val acks = spark.read.parquet(s"$dir.resolutions").collect()
    assert(acks.length == 1 && acks.head.getAs[String]("action") == "compact"
      && acks.head.getAs[Boolean]("resolved")
      && acks.head.getAs[Double]("value_after") == 0.0, acks.toSeq.toString)
    assert(graft.store.Maintenance.openOrders(spark, dir).isEmpty)
    // restart replay: marker skips append + log + drain together
    val q2 = sink(input).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir.resolutions").count() == 1L,
      "replay must not double-drain")
    assert(win == 1)
  }

  test("IVF / IVF-PQ / BM25 / graph / tokenizer policy DRAIN sinks: every family's window drains its open debt and acknowledges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val cents: Seq[Seq[Double]] = graft.search.Ann
      .centroids(emb, "label", "embedding")
      .orderBy(col("key")).collect().map(_.getSeq[Double](1).toSeq).toSeq
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-famdrain").toString
    val rows = emb.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    def ack(dir: String): org.apache.spark.sql.Row = {
      val a = spark.read.parquet(s"$dir.resolutions").collect()
      assert(a.length == 1 && a.head.getAs[Boolean]("resolved"),
        s"$dir: ${a.toSeq}")
      assert(graft.store.Maintenance.openOrders(spark, dir).isEmpty,
        s"$dir: open orders must be empty after the window")
      a.head
    }
    // IVF: batch 0 in-distribution, batch 1 negated -> drift fires,
    // the batch-1 window retrains and acknowledges
    locally {
      val dir = s"$root/ivf"
      graft.search.Ann.buildIvfIndex(
        emb.select(col("vec_id"), col("embedding")), cents, dir)
      graft.search.Ann.recordIvfModel(spark, dir, cents)
      val input = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamIngest.ivfPolicyDrainSink(
        input.toDF().toDF("vec_id", "embedding"), cents, dir, "ivf",
        drainEvery = 2, budgetRows = Long.MaxValue,
        _ => new graft.store.Maintenance.IvfDrainDispatcher(spark, "ivf",
          dir, cents.size, 2, s"$root/ivf-rt", cents),
        Seq(graft.store.MaintenanceRule(
          "ivf", "assignment_drift", 0.001, "retrain"))).start()
      input.addData(rows.map { case (id, v) => (id + 100000, v) })
      q.processAllAvailable()
      input.addData(rows.take(50).map { case (id, v) =>
        (id + 200000, v.map(x => -x)) })
      q.processAllAvailable(); q.stop()
      assert(ack(dir).getAs[String]("action") == "retrain")
    }
    // IVF-PQ: same arrival shape through the codes+vectors layout
    locally {
      val dir = s"$root/pq"
      val cb = graft.search.Pq.train(emb, "vec_id", "embedding", 64, 8, 16, 2)
      graft.search.Pq.buildIvfPqIndex(emb, cents, cb, dir)
      graft.search.Pq.recordIvfPqModel(spark, dir, cb)
      val input = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamIngest.ivfPqPolicyDrainSink(
        input.toDF().toDF("vec_id", "embedding"), cents, cb, dir, "pq",
        drainEvery = 2, budgetRows = Long.MaxValue,
        _ => new graft.store.Maintenance.IvfPqDrainDispatcher(spark, "pq",
          dir, cents.size, 2, 64, 8, 16, 2, cb, s"$root/pq-rt"),
        Seq(graft.store.MaintenanceRule(
          "ivfpq", "recon_drift", 0.0001, "retrain"))).start()
      input.addData(rows.map { case (id, v) => (id + 100000, v) })
      q.processAllAvailable()
      input.addData(rows.take(50).map { case (id, v) =>
        (id + 200000, v.map(x => -x)) })
      q.processAllAvailable(); q.stop()
      assert(ack(dir).getAs[String]("action") == "retrain")
    }
    // BM25: self-initializing first batch; an out-of-band delete's
    // debt surfaces at batch 1 and its window rebuckets + acknowledges
    locally {
      val dir = s"$root/bm25"
      val drows = docs.select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamIngest.bm25PolicyDrainSink(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", dir, "bm",
        drainEvery = 2, budgetRows = Long.MaxValue,
        _ => new graft.store.Maintenance.Bm25DrainDispatcher(spark, "bm",
          dir, s"$root/bm25-v2"),
        Seq(graft.store.MaintenanceRule(
          "bm25", "tombstone_ratio", 0.10, "compact"))).start()
      input.addData(drows.take(100).toSeq)
      q.processAllAvailable()
      graft.search.Lexical.deleteFromBm25Index(
        docs.filter(col("doc_id") < 30).select(col("doc_id")), "doc_id", dir)
      input.addData(drows.slice(100, 150).toSeq)
      q.processAllAvailable(); q.stop()
      assert(ack(dir).getAs[String]("signal") == "tombstone_ratio")
    }
    // graph: overlay appends cross the edge-debt gate; the window
    // compacts back to the n·k floor and acknowledges
    locally {
      val dir = s"$root/graph"
      val base = emb.select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < 60)
      graft.search.KnnGraph.writeGraphIndex(
        graft.search.KnnGraph.exact(base, 3), base, dir, buckets = 4)
      val input = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamIngest.knnGraphPolicyDrainSink(
        input.toDF().toDF("vec_id", "embedding"), dir, 3, "g",
        drainEvery = 2, budgetRows = Long.MaxValue,
        _ => new graft.store.Maintenance.GraphDrainDispatcher(spark, "g",
          dir, 3, s"$root/graph-v2", buckets = 4),
        Seq(graft.store.MaintenanceRule(
          "graph", "edge_debt", 2.0, "compact")), buckets = 4).start()
      input.addData(rows.take(10).map { case (id, v) => (id + 100000, v) })
      q.processAllAvailable()
      input.addData(rows.slice(10, 40).map { case (id, v) =>
        (id + 200000, v) })
      q.processAllAvailable(); q.stop()
      assert(ack(dir).getAs[String]("action") == "compact")
      assert(graft.search.KnnGraph
        .graphIndexHealth(spark, s"$root/graph-v2").head()
        .getAs[Long]("n_edge_rows") == 100L * 3,
        "compacted generation back at the n*k floor")
    }
    // tokenizer (the seventh family): an in-distribution batch logs
    // nothing; a mangled batch ('e' -> '#', an unseen char) fires
    // fertility + OOV and the window retrains from everything
    // observed — the fresh generation's alphabet covers the new char
    locally {
      val dir = s"$root/tok"
      graft.text.Tokenizer.writeTokenizer(docs, "text", dir)
      val drows = docs.select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamIngest.tokenizerPolicyDrainSink(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", dir, "tok",
        drainEvery = 2, budgetRows = Long.MaxValue,
        _ => new graft.store.Maintenance.TokenizerDrainDispatcher(spark,
          "tok", dir, s"$root/tok-rt")).start()
      input.addData(drows.take(20).map { case (id, t) =>
        (id + 100000, t) }.toSeq)
      q.processAllAvailable()
      input.addData(drows.take(20).map { case (id, t) =>
        (id + 200000, t.replace('e', '#')) }.toSeq)
      q.processAllAvailable(); q.stop()
      val acks = spark.read.parquet(s"$dir.resolutions").collect()
      assert(acks.nonEmpty && acks.forall(_.getAs[Boolean]("resolved")),
        acks.toSeq.toString)
      assert(acks.exists(_.getAs[String]("signal") == "oov_rate"))
      assert(spark.read.parquet(s"$root/tok-rt")
        .filter(col("piece") === "#").count() == 1,
        "the retrained alphabet must cover the observed new char")
      assert(graft.store.Maintenance.openOrders(spark, dir).isEmpty)
    }
  }

  test("tokenizer CASCADE sink: the scheduled window retrains AND re-encodes the dependent topologically in ONE window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf0001)
    val root = Files.createTempDirectory("graft-stream-casc").toString
    val dir = s"$root/tok"; val enc = s"$root/enc"
    // the MaintenanceSpec cascade fixture: a 60-piece budget so the
    // full-corpus mangle displaces pieces the dependent's encode used
    graft.text.Tokenizer.writeTokenizer(docs, "text", dir, vocabSize = 60)
    graft.text.Tokenizer.writeEncodedStore(spark,
      docs.filter(col("doc_id") < 20), "text", dir, enc)
    var lastEnc: graft.store.Maintenance.EncodedDrainDispatcher = null
    var lastTok: graft.store.Maintenance.TokenizerDrainDispatcher = null
    val windowFor: Long => (graft.store.Maintenance.TokenizerDrainDispatcher,
        graft.store.Maintenance.EncodedDrainDispatcher) = b => {
      val t = new graft.store.Maintenance.TokenizerDrainDispatcher(spark,
        "tok", dir, s"$root/tok-rt$b")
      val e = new graft.store.Maintenance.EncodedDrainDispatcher(spark,
        "e", enc, s"$root/enc-re$b", () => t.eff)
      lastTok = t; lastEnc = e; (t, e)
    }
    val drows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    // OOV + the encoded rule only (the restricted-rules convention of
    // the other sink specs): the full-corpus mangle leaves the batch
    // legitimately drifted vs even the retrained baseline at this
    // tight budget, which would keep a fertility order open — not the
    // behavior under test here
    val q = graft.streaming.StreamIngest.tokenizerCascadePolicyDrainSink(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", dir, "tok",
      enc, "e", drainEvery = 2, budgetRows = Long.MaxValue,
      windowFor,
      rules = Seq(
        graft.store.MaintenanceRule("tokenizer", "oov_rate", 0.01,
          "retrain"),
        graft.store.MaintenanceRule("encoded", "encoding_stale", 0.01,
          "reencode"))).start()
    // batch 0: in-distribution — logs nothing; batch 1: the mangled
    // full corpus fires both signals and the cadence window drains
    input.addData(drows.take(20).map { case (id, t) =>
      (id + 100000, t) }.toSeq)
    q.processAllAvailable()
    input.addData(drows.map { case (id, t) =>
      (id + 200000, t.replace('e', '#')) }.toSeq)
    q.processAllAvailable(); q.stop()
    val acks = spark.read.parquet(s"$dir.resolutions").collect()
    // both levels acknowledged in the shared sidecar, all resolved
    assert(acks.nonEmpty && acks.forall(_.getAs[Boolean]("resolved")),
      acks.toSeq.toString)
    val encAck = acks.filter(_.getAs[String]("index_kind") == "encoded")
    assert(encAck.length == 1, acks.toSeq.toString)
    assert(encAck.head.getAs[String]("action") == "reencode" &&
      encAck.head.getAs[Long]("n_fired") == 0L &&
      encAck.head.getAs[Double]("last_value") > 0.01 &&
      encAck.head.getAs[Double]("value_after") == 0.0,
      encAck.head.toString)
    // the re-encoded generation speaks the retrained vocabulary
    assert(lastEnc.eff != enc && lastTok.eff != dir)
    assert(graft.text.Tokenizer.encodedStaleness(spark, lastEnc.eff,
      lastTok.eff).head().getAs[Double]("stale_ratio") == 0.0)
    // nothing left open; the window consumed its orders
    assert(graft.store.Maintenance.openOrders(spark, dir).isEmpty)
  }

  test("LSH policy sink: clean batch logs nothing, out-of-band delete debt surfaces at the next batch, replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planes = graft.search.Ann.planes(64, 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-lshpolicy").toString + "/index"
    graft.search.Ann.buildLshIndex(emb, planes, dir)
    // tombstone rule only: the file-debt threshold is bucket-count
    // arithmetic this fixture doesn't aim at (lshSignals still emits
    // the signal; no rule joins it)
    val rules = Seq(graft.store.MaintenanceRule(
      "lsh", "tombstone_ratio", 0.10, "compact"))
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIngest.lshPolicySink(
      input.toDF().toDF("vec_id", "embedding"), planes, dir,
      "emb_lsh", rules).start()
    // batch 0: plain appends, no deletes anywhere — nothing may log
    input.addData(rows.take(30).map { case (id, v) => (id + 100000, v) })
    q.processAllAvailable()
    // out-of-band delete (a third of the corpus): invisible until the
    // NEXT applied batch evaluates — the bm25PolicySink convention
    graft.search.Ann.deleteFromLshIndex(
      emb.filter(col("vec_id") % 3 === 0), dir)
    input.addData(rows.take(30).map { case (id, v) => (id + 200000, v) })
    q.processAllAvailable()
    q.stop()
    val log = spark.read.parquet(s"$dir.oplog")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("action"), r.getAs[String]("signal")))
    assert(log.toSeq == Seq((1L, "compact", "tombstone_ratio")),
      log.toSeq.toString)
    val q2 = graft.streaming.StreamIngest.lshPolicySink(
      input.toDF().toDF("vec_id", "embedding"), planes, dir,
      "emb_lsh", rules).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir.oplog").count() == 1L,
      "replay must not double-log")
    val n = spark.read.parquet(dir).count()
    assert(n == emb.count() + 60, s"replay must not double-append: $n")
    // the order book composes over the sink's oplog
    val book = graft.store.Maintenance.orderBook(spark, dir).collect()
    assert(book.length == 1 &&
      book.head.getAs[String]("action") == "compact" &&
      book.head.getAs[Long]("first_batch") == 1L &&
      book.head.getAs[Long]("n_fired") == 1L, book.toSeq.toString)
  }

  test("streaming IVF-PQ maintenance: codes+vectors append per batch, probe ≡ rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.search.Ann.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
    val cb = graft.search.Pq.train(emb, "vec_id", "embedding", 64, 8, 16, 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ivfpq").toString + "/index"
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIngest.ivfPqMaintenanceSink(
      input.toDF().toDF("vec_id", "embedding"), cents, cb, dir).start()
    rows.grouped(200).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val query = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    def probe(p: String) =
      graft.search.Pq.ivfPqIndexTopK(spark, p, query, cents, cb, 5, 3, 40)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuiltDir = java.nio.file.Files
      .createTempDirectory("graft-stream-ivfpq2").toString + "/index"
    graft.search.Pq.buildIvfPqIndex(emb, cents, cb, rebuiltDir)
    assert(probe(dir) == probe(rebuiltDir),
      "drained IVF-PQ sink must probe like a from-scratch build")
  }

  test("streaming kNN-graph maintenance: drained sink probe ≡ exact rebuild") {
    // the graph sink is EXACT, not model-frozen: each micro-batch
    // appends overlay edges scored against the index's own nodes side
    // (which the previous batches populated), so after draining, a
    // probe over base ∪ overlay must equal the brute-force graph over
    // everything ingested — including cross-batch edges the first
    // batch could not have seen
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-knng")
      .toString + "/index"
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIngest.knnGraphMaintenanceSink(
      input.toDF().toDF("vec_id", "embedding"), dir, buckets = 4).start()
    rows.grouped(15).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val probeIds = rows.map(_._1)
    val streamed = graft.search.KnnGraph
      .graphIndexTopK(spark, dir, probeIds, 3, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val rebuilt = graft.search.KnnGraph.exact(emb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(streamed == rebuilt,
      "drained graph sink must probe like the brute-force rebuild")
  }

  test("streaming SQ8-IVF maintenance: drained sink probe ≡ rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.search.Ann.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ivfsq").toString + "/index"
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIngest.ivfSqMaintenanceSink(
      input.toDF().toDF("vec_id", "embedding"), cents, dir).start()
    rows.grouped(200).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val query = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    def probe(p: String) =
      graft.search.Sq.ivfSqIndexTopK(spark, p, query, cents, 5, 20, 3)
        .select(col("vec_id"), col("sim"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuiltDir = java.nio.file.Files
      .createTempDirectory("graft-stream-ivfsq2").toString + "/index"
    graft.search.Sq.buildIvfSqIndex(emb, cents, rebuiltDir)
    assert(probe(dir) == probe(rebuiltDir),
      "drained SQ8 sink must probe like a from-scratch build")
  }

  test("streaming image dedup gate: arriving duplicates drop, kept images guard later batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import graft.multimodal.{ImageFixtures, Multimodal}
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-img-gate").toString + "/store"
    // corpus: two known images
    val corpus: Seq[(Long, Array[Byte])] =
      Seq((1L, ImageFixtures.png(520, 400)), (2L, ImageFixtures.png(150, 120)))
    Multimodal.writeDHashStore(
      Multimodal.decodeDHash(spark, corpus.toDF("id", "bytes")).toDF(), store, 8)
    val keptIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.StreamIngest.imageDedupGateSink(
      input.toDF().toDF("id", "bytes"), store, maxHamming = 3) { kept =>
      keptIds ++= kept.select(col("id")).collect().map(_.getLong(0)); ()
    }.start()
    // batch 1: a dup of corpus image 1, a novel image, an in-batch
    // dup pair (13/14 — min id wins)
    input.addData(Seq(
      (11L, ImageFixtures.png(520, 400)),   // dup of corpus 1 → dropped
      (12L, ImageFixtures.png(600, 480)),   // novel → kept
      (13L, ImageFixtures.png(333, 200)),   // novel, min of the pair → kept
      (14L, ImageFixtures.png(333, 200)))) // in-batch dup of 13 → dropped
    q.processAllAvailable()
    // batch 2: a dup of batch-1's KEPT image must now drop too
    input.addData(Seq(
      (21L, ImageFixtures.png(600, 480)),   // dup of kept 12 → dropped
      (22L, ImageFixtures.png(222, 180)))) // novel → kept
    q.processAllAvailable()
    q.stop()
    assert(keptIds.sorted == Seq(12L, 13L, 22L), s"kept $keptIds")
  }

  test("dHash store rebuild resets stream batch markers: a fresh stream's batch 0 is not swallowed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import graft.multimodal.{ImageFixtures, Multimodal}
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-img-gate2").toString + "/store"
    def build(): Unit = Multimodal.writeDHashStore(
      Multimodal.decodeDHash(spark,
        Seq((1L, ImageFixtures.png(520, 400))).toDF("id", "bytes")).toDF(),
      store, 8)
    def runOne(id: Long, img: Array[Byte]): Seq[Long] = {
      val keptIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val input = MemoryStream[(Long, Array[Byte])]
      val q = graft.streaming.StreamIngest.imageDedupGateSink(
        input.toDF().toDF("id", "bytes"), store, maxHamming = 3) { kept =>
        keptIds ++= kept.select(col("id")).collect().map(_.getLong(0)); ()
      }.start()
      input.addData(Seq((id, img)))
      q.processAllAvailable()
      q.stop()
      keptIds.toSeq
    }
    build()
    // stream 1 lays down the batch-0 marker under the store path
    assert(runOne(11L, ImageFixtures.png(600, 480)) == Seq(11L))
    // REBUILD: markers must reset with the store, or the new stream's
    // batch 0 (ids restart at 0 per stream) is silently swallowed
    build()
    assert(runOne(21L, ImageFixtures.png(333, 200)) == Seq(21L),
      "fresh build must clear stale _applied_batches markers")
  }

  test("streaming retrieval-eval gate: rankedEval over the drained ranking log ≡ batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    // the batch result frame a production stack would emit per query
    val results = graft.search.Search.similarityJoin(
        emb, qs.select(col("qid"), col("qvec")), 5)
      .select(col("qid"), col("vec_id"), col("sim"))
    val rows = results.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ranklog").toString + "/ranks"
    val input = MemoryStream[(Long, Long, Double)]
    val q = graft.streaming.StreamIngest.rankingLogSink(
      input.toDF().toDF("qid", "vec_id", "sim"), dir).start()
    rows.grouped(7).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    def evalOf(df: org.apache.spark.sql.DataFrame) =
      graft.analysis.Eval.rankedEval(df, "sim",
          qs.select(col("qid"), col("qlabel")), emb, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val streamed = evalOf(spark.read.parquet(s"$dir/log"))
    val batch = evalOf(results)
    assert(streamed == batch, s"drained-log eval $streamed != batch eval $batch")
  }

  test("streaming answer-quality gate: faithfulnessGate over the drained answer log ≡ batch") {
    // the answer-side twin of the ranking-log gate: a serving stack
    // logs each answered query's (qid, question, context, answer)
    // through the content-agnostic log sink, and the RAGAS-style
    // faithfulness/relevance gate over the drained log equals the
    // batch gate over the same rows — the gate is order-free over its
    // input frame, so micro-batch boundaries cannot move the numbers
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val answers = Seq(
      (0L, "what is spark", "spark is a fast engine", "spark fast engine data"),
      (1L, "how to join", "broadcast the small side", "join types and hints"),
      (2L, "what is shuffle", "what is shuffle", "partitions move between stages"),
      (3L, "why parquet", "columnar footer statistics", "parquet is columnar"))
      .toDF("qid", "question", "answer", "context")
    val roster = answers.select(col("qid"))
    val rows = answers.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft-anslog").toString + "/answers"
    val input = MemoryStream[(Long, String, String, String)]
    val q = graft.streaming.StreamIngest.rankingLogSink(
      input.toDF().toDF("qid", "question", "answer", "context"), dir).start()
    rows.grouped(3).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.analysis.Eval.faithfulnessGate(df, roster).collect().toSeq
    assert(gate(spark.read.parquet(s"$dir/log")) == gate(answers),
      "drained-log gate must equal the batch gate")
  }

  test("streaming BM25 maintenance: first batch builds, later batches append, probe ≡ rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-bm25").toString + "/index"
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamIngest.bm25MaintenanceSink(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", dir).start()
    rows.grouped(40).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val qs = Seq(
      (0L, Seq("spark", "join")),
      (1L, Seq("table", "filter"))).toDF("qid", "terms")
    val streamed = graft.search.Lexical.bm25IndexTopKBatch(spark, dir, qs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val rebuiltDir = java.nio.file.Files
      .createTempDirectory("graft-stream-bm25r").toString + "/index"
    graft.search.Lexical.buildBm25Index(docs, "text", "doc_id", rebuiltDir)
    val rebuilt = graft.search.Lexical.bm25IndexTopKBatch(spark, rebuiltDir, qs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(streamed == rebuilt, s"streamed $streamed != rebuilt $rebuilt")
  }

  test("foreachBatch replay guard: a re-delivered batch id is a no-op") {
    val idx = java.nio.file.Files.createTempDirectory("graft-once").toString + "/index"
    var applied = 0
    graft.streaming.StreamIngest.oncePerBatch(spark, idx, 7L) { applied += 1 }
    graft.streaming.StreamIngest.oncePerBatch(spark, idx, 7L) { applied += 1 } // restart replay
    graft.streaming.StreamIngest.oncePerBatch(spark, idx, 8L) { applied += 1 }
    assert(applied == 2, s"batch 7 must apply once, batch 8 once: $applied")
    assert(graft.io.Fs.exists(spark, s"${graft.store.Sidecars.appliedBatches(idx)}/batch-8"),
      "markers live in the index's applied-batches sidecar")
  }

  test("fresh build clears stale batch markers: a NEW stream's batch 0 is not swallowed") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files.createTempDirectory("graft-stale").toString + "/index"
    // stream 1 leaves markers batch-0..n at the path
    graft.streaming.StreamIngest.oncePerBatch(spark, idx, 0L) {}
    // operator rebuild at the same path (fresh index, fresh stream next)
    graft.search.Lexical.buildBm25Index(docs.limit(10), "text", "doc_id", idx)
    var applied = 0
    graft.streaming.StreamIngest.oncePerBatch(spark, idx, 0L) {
      applied += 1
    }
    assert(applied == 1, "stale marker must not swallow the new stream's batch 0")
  }

  test("streaming dedup gate: arriving duplicates are dropped, kept docs guard later batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 50)
    val sig = java.nio.file.Files.createTempDirectory("graft-gate").toString + "/sigs"
    graft.analysis.Dedup.writeSignatureStore(corpus, "doc_id", "text", 5, 32, 8, sig)
    // batch 1: one corpus duplicate (re-text of doc 3 under a new id) +
    // one fresh doc; batch 2: a duplicate OF THE KEPT BATCH-1 DOC — it
    // must be dropped because batch 1's signatures entered the store
    val d3 = docs.filter(col("doc_id") === 3).head().getString(1)
    val fresh = "a genuinely new document about distributed query engines and shuffles"
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamIngest.dedupGateSink(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", sig, 0.5) { b =>
      kept ++= b.collect().map(_.getLong(0))
    }.start()
    input.addData(Seq((1000L, d3), (1001L, fresh))); q.processAllAvailable()
    input.addData(Seq((1002L, fresh + " !"))); q.processAllAvailable()
    q.stop()
    assert(kept.sorted == Seq(1001L),
      s"expected only the fresh doc kept (1000 dups corpus, 1002 dups 1001): $kept")
  }

  test("stream-stream time-range join: views pick up prior clicks only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    val views = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp, Double)]
    val joined = StreamIngest.clickViewJoinStream(
      views.toDF().toDF("event_id", "user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts", "value"),
      watermark = "10 minutes", joinWindow = "30 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    // batch 1: user 1 clicks at t+0 (value 7.5); user 2 clicks at t+0
    clicks.addData((1L, ts(0), 7.5), (2L, ts(0), 1.0))
    q.processAllAvailable()
    // batch 2: user 1 views at t+10 (inside window) and t+50 (outside);
    // user 3 views at t+10 (no click at all)
    views.addData((100L, 1L, ts(10)), (101L, 1L, ts(50)), (102L, 3L, ts(10)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).sorted
    // only the in-window (view 100, click t+0) pair joins; view 101 is
    // 50 min after the click (> 30-minute window), view 102 has no click
    assert(rows.toSeq == Seq((100L, 1L, 7.5)), rows.mkString(","))
  }

  test("A1: binaryFile source -> decode pipeline (the PDF ArrayBuffer path)") {
    // the reference reads one PDF into an ArrayBuffer (App.tsx:46-47);
    // the cluster form is the binaryFile source over a document bucket
    val dir = Files.createTempDirectory("graft-bin").toString
    Files.write(java.nio.file.Paths.get(s"$dir/a.pdf"),
      "fake pdf payload one".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/b.pdf"),
      "another fake payload".getBytes("UTF-8"))
    val bin = spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content"))
    assert(bin.count() == 2)
    val media = bin.select(
      abs(xxhash64(col("path"))).as("id"), lit("pdf").as("modality"),
      col("content").as("bytes"))
    val feats = Multimodal.decodeFeatures(spark, media).collect()
    assert(feats.length == 2)
    assert(feats.forall(_.byte_len == 20))
  }

  test("multimodal: batched stub decode preserves ids and determinism") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(10)
    val feats = Multimodal.decodeFeatures(spark,
      Multimodal.asBinary(docs, "doc_id", "text")).collect()
    assert(feats.length == 10)
    assert(feats.forall(f => f.byte_len > 0 && f.content_hash.length == 32))
    assert(feats.forall(f => f.width >= 1 && f.width <= 64))
    val again = Multimodal.decodeFeatures(spark,
      Multimodal.asBinary(docs, "doc_id", "text")).collect()
    assert(feats.sortBy(_.id).toSeq == again.sortBy(_.id).toSeq)
  }

  test("JSONL and CSV round-trips are lossless for the document corpus") {
    // JSONL is the interchange format of training-data pipelines; the
    // engine must read/write it (and CSV) without corrupting text that
    // contains quotes, commas or newlines-in-values
    val src = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    def roundTrip(fmt: String): Unit = {
      val dir = Files.createTempDirectory(s"graft-$fmt").toString + "/docs"
      val w = src.write.mode("overwrite")
      (if (fmt == "csv") w.option("header", "true") else w).format(fmt).save(dir)
      val r = spark.read
      val back = (if (fmt == "csv")
          r.option("header", "true").schema(src.schema).format(fmt).load(dir)
        else r.schema(src.schema).format(fmt).load(dir))
      val diff = src.exceptAll(back).count() + back.exceptAll(src).count()
      assert(diff == 0, s"$fmt round-trip lost/changed $diff rows")
      assert(back.count() == src.count())
    }
    roundTrip("json")
    roundTrip("csv")
    roundTrip("orc") // the other columnar container Spark ships built-in
  }

  test("streaming exact dedup: later duplicate within the watermark is dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = StreamIngest.dedupStream(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    input.addData((0L, "same text", ts(0)), (1L, "other", ts(1)))
    q.processAllAvailable()
    input.addData((2L, "same text", ts(2)), (3L, "third", ts(3))) // dup across batches
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 3L)) // 2 dropped: same md5 inside the watermark
  }

  test("streaming decayed counters: drained stream ≡ batch fold at h=1") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val events = graft.io.Tables.events(spark, sf0001)
      .select(col("event_type"), col("ts"), col("value"))
    val rows = events.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSeq
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = StreamIngest.decayedCountsStream(
        input.toDF().toDF("event_type", "ts", "value"),
        "event_type", "ts", "value")
      .writeStream.outputMode("update").format("memory")
      .queryName("decay_sink").start()
    rows.grouped(137).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    // the batch fold anchors every key at the CORPUS max day; the
    // stream anchors each key at ITS OWN max day and emits it — the
    // reader rescales by an exact power of two (see DecayedCount)
    val globalAnchor = events
      .agg(datediff(date_trunc("day", max(col("ts"))),
        lit("1970-01-01").cast("date")).cast("int"))
      .head().getInt(0)
    // the last update per key is the one with the key's full n_raw
    val streamed = spark.table("decay_sink")
      .collect()
      .map(r => (r.getString(0), (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).maxBy(_._2)) }
    val batch = graft.analysis.TimeSeries
      .halfLifeDecayed(events, "event_type", "ts", "value", 1)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (k, (anchor, nRaw, nDec, vDec)) =>
      val (bRaw, bDec, bVal) = batch(k)
      val scale = math.pow(2.0, (anchor - globalAnchor).toDouble)
      assert(nRaw == bRaw, s"$k n_raw")
      // decayed count: exact dyadics on both paths, but the stream is
      // UNROUNDED while the batch column is round-6 — half-ulp bound
      assert(math.abs(nDec * scale - bDec) < 1e-6, s"$k n_decayed ${nDec * scale} vs $bDec")
      // value-weighted sum: different reduction order — rounding-level
      assert(math.abs(vDec * scale - bVal) < 1e-3, s"$k value_decayed ${vDec * scale} vs $bVal")
    }
  }

  test("streaming funnel: drained stream ≡ batch funnelCounts, worst-case out-of-order, both gap modes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("signup", "view", "click", "purchase")
    val events = graft.io.Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"), col("ts"))
    val rows = events.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSeq
    // deliver NEWEST-FIRST: every batch boundary is maximally
    // out-of-order vs event time — the fold must not care
    val reversed = rows.sortBy(_._3.getTime).reverse
    for ((gap, name) <- Seq((None, "funnel_plain"), (Some(86400L), "funnel_gap"))) {
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = StreamIngest.funnelStream(
          input.toDF().toDF("user_id", "event_type", "ts"),
          "user_id", "event_type", "ts", steps, gap)
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      reversed.grouped(997).foreach { g => input.addData(g); q.processAllAvailable() }
      q.stop()
      // latest emitted row per user (n_events is monotone per user)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user")).orderBy(col("n_events").desc)
      val latest = spark.table(name)
        .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("__rn") === 1)
        .select(steps.indices.map(i => col("step_times")(i).as(s"__t$i")): _*)
      val streamed = graft.analysis.Funnel.countsFromStepTimes(latest, steps)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSeq.sorted
      val batch = graft.analysis.Funnel.funnelCounts(
          events, "user_id", "event_type", "ts", steps, gap)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSeq.sorted
      assert(streamed == batch, s"$name: drained $streamed vs batch $batch")
      assert(batch.map(_._3).exists(_ > 0), s"$name: vacuous fixture")
    }
  }

  test("streaming sessions: drained ≡ batch stats on newest-first delivery; late event merges sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val events = graft.io.Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts"))
    val rows = events.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    // newest-first: every session's START arrives last — the multiset
    // fold must re-derive splits all the way down
    val reversed = rows.sortBy(_._2.getTime).reverse
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val gap = 6L * 3600
    val q = StreamIngest.sessionStream(
        input.toDF().toDF("user_id", "ts"), "user_id", "ts", gap)
      .writeStream.outputMode("update").format("memory")
      .queryName("session_sink").start()
    reversed.grouped(997).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user")).orderBy(col("n_events").desc)
    val latest = spark.table("session_sink")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .select(explode(arrays_zip(col("ns"), col("durs"))).as("s"))
      .select(col("s.ns").as("n_events"), col("s.durs").as("dur_us"))
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().head.toSeq
    val streamed = row(graft.analysis.Funnel.statsFromSessionRows(latest))
    val batch = row(graft.analysis.Funnel.sessionStats(events, "user_id", "ts", gap))
    assert(streamed == batch, s"drained $streamed vs batch $batch")
    assert(streamed.head.asInstanceOf[Long] > 0L)
  }

  test("streaming sessions: a late mid-gap event merges the sessions it separated") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamIngest.sessionStream(
        input.toDF().toDF("user_id", "ts"), "user_id", "ts", 3600L)
      .writeStream.outputMode("update").format("memory")
      .queryName("session_merge").start()
    input.addData((1L, ts(0)), (1L, ts(3))) // 3h apart → two sessions
    q.processAllAvailable()
    val mid = spark.table("session_merge").orderBy(col("n_events").desc).head()
    assert(mid.getSeq[Long](2).length == 2, "two sessions before the late event")
    input.addData((1L, ts(1)), (1L, ts(2))) // late bridge: gaps now <= 1h
    q.processAllAvailable()
    q.stop()
    val out = spark.table("session_merge").orderBy(col("n_events").desc).head()
    assert(out.getSeq[Long](2).toSeq == Seq(4L), "bridge must merge into ONE session")
    assert(out.getSeq[Long](3).toSeq == Seq(3L * 3600 * 1000000L))
  }

  test("streaming retention: drained stream ≡ batch cohorts, late events move cohorts exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val events = graft.io.Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts"))
    val rows = events.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    // newest-first delivery: every user's FIRST-activity day arrives
    // LAST — the per-user day-set fold must revise cohorts all the way
    val reversed = rows.sortBy(_._2.getTime).reverse
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamIngest.retentionStream(
        input.toDF().toDF("user_id", "ts"), "user_id", "ts")
      .writeStream.outputMode("update").format("memory")
      .queryName("retention_sink").start()
    reversed.grouped(997).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user")).orderBy(col("n_events").desc)
    val epoch = lit("1970-01-01").cast("date")
    val latest = spark.table("retention_sink")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .select(date_add(epoch, col("cohort_day")).cast("timestamp").as("__cohort"),
        transform(col("days"), d => date_add(epoch, d).cast("timestamp")).as("__days"))
    def report(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq.sorted
    val streamed = report(graft.analysis.Funnel.cohortsFromUserDays(latest))
    val batch = report(graft.analysis.Funnel.retentionCohorts(events, "user_id", "ts"))
    assert(streamed == batch, s"drained $streamed vs batch $batch")
    assert(batch.nonEmpty)
  }

  test("streaming SCD-2: drained stream ≡ batch history, newest-first delivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val events = graft.io.Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"), col("ts"))
    val rows = events.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSeq
    // newest-first: every key's history arrives backwards — suppressed
    // sightings must keep reviving earlier arrivals into real versions
    val reversed = rows.sortBy(_._3.getTime).reverse
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamIngest.scd2Stream(
        input.toDF().toDF("user_id", "event_type", "ts"),
        "user_id", "ts", "event_type")
      .writeStream.outputMode("update").format("memory")
      .queryName("scd2_sink").start()
    reversed.grouped(997).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("n_events").desc)
    val streamed = spark.table("scd2_sink")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .collect().map(r => (r.getAs[String]("key").toLong,
        (r.getAs[Long]("n_versions"), r.getAs[String]("state"),
          r.getAs[Long]("since")))).toMap
    val hist = graft.store.Scd2.history(events, "user_id", "ts", Seq("event_type"))
    val nVers = hist.groupBy(col("user_id")).agg(count(lit(1)).as("nv"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val current = hist.filter(col("is_current"))
      .select(col("user_id"), col("event_type"), unix_micros(col("valid_from")))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(streamed.keySet == nVers.keySet)
    streamed.foreach { case (u, (nv, st, since)) =>
      assert(nv == nVers(u), s"user $u versions $nv vs batch ${nVers(u)}")
      assert((st, since) == current(u), s"user $u current ($st,$since) vs ${current(u)}")
    }
    assert(nVers.values.exists(_ > 2), "vacuous fixture: no multi-version user")
  }

  test("streaming SCD-2 kernel: a late between-sightings arrival revives a suppressed observation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + s * 1000L)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamIngest.scd2Stream(
        input.toDF().toDF("id", "state", "ts"), "id", "ts", "state")
      .writeStream.outputMode("update").format("memory")
      .queryName("scd2_revive").start()
    // A@0, A@20 → one version (the repeat is suppressed)
    input.addData((1L, "A", ts(0)), (1L, "A", ts(20)))
    q.processAllAvailable()
    val mid = spark.table("scd2_revive").orderBy(col("n_events").desc).head()
    assert(mid.getAs[Long]("n_versions") == 1L && mid.getAs[String]("state") == "A")
    // late B@10 lands BETWEEN them: A@0, B@10, A@20 — three versions,
    // current flips back to A with since = t20
    input.addData(Seq((1L, "B", ts(10))))
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("scd2_revive").orderBy(col("n_events").desc).head()
    assert(fin.getAs[Long]("n_versions") == 3L, s"got ${fin.getAs[Long]("n_versions")}")
    assert(fin.getAs[String]("state") == "A")
    assert(fin.getAs[Long]("since") == ts(20).getTime * 1000)
  }

  test("streaming funnel state prunes to the answer on an in-order un-gapped stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + s * 1000L)
    // one user walks the funnel twice over; later repeats of a
    // completed step can never change a min and must leave state
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamIngest.funnelStream(
        input.toDF().toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", Seq("signup", "view"))
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_prune").start()
    input.addData((1L, "signup", ts(0)), (1L, "view", ts(1)))
    q.processAllAvailable()
    input.addData((1L, "signup", ts(10)), (1L, "view", ts(11)), (1L, "other", ts(12)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("funnel_prune")
      .orderBy(col("n_events").desc).head()
    // repeats counted as step events, but the times stay the first walk
    assert(out.getLong(1) == 4L)
    val times = out.getSeq[java.lang.Long](2)
    assert(times(0) == ts(0).getTime * 1000 && times(1) == ts(1).getTime * 1000)
  }

  test("streaming decayed counters: STALE key rescales to the batch anchor exactly") {
    // 'stale' last fires on day 1 while 'hot' runs to day 2 (the corpus
    // max) — the case the sf0.001 fixture cannot exercise (every
    // event_type there has an event on the global max day). The batch
    // fold weights stale's events by the GLOBAL anchor; the stream
    // anchors stale at day 1 and the emitted anchor_day closes the gap
    // by an exact power of two.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2026-03-${day + 1}%02d 12:00:00")
    val rows = Seq(
      ("hot", ts(0), 1.0), ("hot", ts(2), 2.0),
      ("stale", ts(0), 4.0), ("stale", ts(1), 8.0))
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = StreamIngest.decayedCountsStream(
        input.toDF().toDF("event_type", "ts", "value"),
        "event_type", "ts", "value")
      .writeStream.outputMode("update").format("memory")
      .queryName("decay_stale_sink").start()
    rows.grouped(1).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val events = spark.createDataFrame(rows).toDF("event_type", "ts", "value")
    val globalAnchor = events
      .agg(datediff(date_trunc("day", max(col("ts"))),
        lit("1970-01-01").cast("date")).cast("int"))
      .head().getInt(0)
    val streamed = spark.table("decay_stale_sink")
      .collect()
      .map(r => (r.getString(0), (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).maxBy(_._2)) }
    val batch = graft.analysis.TimeSeries
      .halfLifeDecayed(events, "event_type", "ts", "value", 1)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // stale's stream anchor is a day BEHIND the corpus anchor
    assert(streamed("stale")._1 == globalAnchor - 1)
    streamed.foreach { case (k, (anchor, nRaw, nDec, vDec)) =>
      val (bRaw, bDec, bVal) = batch(k)
      val scale = math.pow(2.0, (anchor - globalAnchor).toDouble)
      assert(nRaw == bRaw, s"$k n_raw")
      // dyadic values throughout — rescaled stream ≡ batch EXACTLY
      assert(nDec * scale == bDec, s"$k n_decayed ${nDec * scale} vs $bDec")
      assert(vDec * scale == bVal, s"$k value_decayed ${vDec * scale} vs $bVal")
    }
  }

  test("streaming rate anomalies: drained stream ≡ batch z-report, newest-first delivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val events = graft.io.Tables.events(spark, sf0001)
      .select(col("event_type"), col("ts"))
    val rows = events.collect()
      .map(r => (r.getString(0), r.getTimestamp(1))).toSeq
    // newest-first delivery across batch boundaries: hour counting is
    // order-free, so the drained state must not care
    val reversed = rows.sortBy(_._2.getTime).reverse
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val q = StreamIngest.anomalyStream(
        input.toDF().toDF("event_type", "ts"), "event_type", "ts")
      .writeStream.outputMode("update").format("memory")
      .queryName("anomaly_sink").start()
    reversed.grouped(997).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("n_events").desc)
    val hourly = spark.table("anomaly_sink")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("key").as("event_type"),
        explode(arrays_zip(col("hours"), col("counts"))).as("hc"))
      .select(col("event_type"),
        timestamp_micros(col("hc.hours") * 3600000000L).as("hour"),
        col("hc.counts").as("n"))
    def report(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    val streamed = report(graft.analysis.TimeSeries.anomaliesFromHourly(
      hourly, "event_type", 1.5))
    val batch = report(graft.analysis.TimeSeries.rateAnomalies(
      events, "event_type", "ts", 1.5))
    assert(streamed == batch, s"drained $streamed vs batch $batch")
    assert(batch.nonEmpty, "vacuous fixture: no bucket at z >= 1.5")
  }
}
