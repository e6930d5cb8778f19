package graft

import org.apache.spark.sql.functions._

import graft.search.{Ann, Search}

/** ANN variants: recall against the exact brute-force oracle on real
  * sf0.001 embeddings (deterministic data+seeds → deterministic recall). */
class AnnSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
  private lazy val exact =
    Search.knn(emb, q, 5).select("vec_id").collect().map(_.getLong(0)).toSet

  /** The file-skipping checks assert scan metrics, so the frames they
    * inspect are built with the serving snapshot off: a small index is
    * otherwise answered from the driver, with no scan to measure. */
  private def onSparkPlan[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("centroids: one row per label, dim-64 arrays") {
    val c = Ann.centroids(emb, "label", "embedding").collect()
    assert(c.length == 10)
    assert(c.forall(_.getSeq[Double](1).size == 64))
  }

  test("vector_avg centroids match the exploded-avg spec within 1e-9") {
    val fast = Ann.centroids(emb, "label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val spec = Ann.centroidsExploded(emb, "label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(fast.keySet == spec.keySet)
    fast.foreach { case (k, v) =>
      v.zip(spec(k)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("IVF nprobe=3 finds most of exact top-5; nprobe=10 is exact") {
    val ivf = Ann.ivfTopK(emb, q, 5, 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // the synthetic `label` is a random coarse id, not a k-means fit, so
    // cluster pruning caps out at modest recall on this data; the value
    // is deterministic (fixed data + seeds)
    assert((ivf & exact).size >= 2, s"recall too low: $ivf vs $exact")
    val full = Ann.ivfTopK(emb, q, 5, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(full == exact) // probing every cluster degenerates to exact
  }

  test("LSH 8-bit multi-probe finds most of exact top-5 scanning a fraction") {
    val lsh = Ann.lshTopK(emb, q, 5, Ann.planes(64, 8))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((lsh & exact).size >= 2, s"recall too low: $lsh vs $exact")
  }

  test("k-means IVF beats the random-label clustering at equal nprobe") {
    val km = Ann.ivfTopKKMeans(emb, q, 5, 3, numClusters = 10, iters = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val labelBased = Ann.ivfTopK(emb, q, 5, 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((km & exact).size >= (labelBased & exact).size,
      s"kmeans $km vs label $labelBased vs exact $exact")
    assert((km & exact).size >= 3, s"kmeans recall too low: $km vs $exact")
  }

  test("kmeans centroids are deterministic and well-formed") {
    val c1 = Ann.kmeansCentroids(emb, "vec_id", "embedding", 5, 2)
    val c2 = Ann.kmeansCentroids(emb, "vec_id", "embedding", 5, 2)
    assert(c1 == c2)
    assert(c1.size == 5 && c1.forall(_.size == 64))
  }

  test("native assignCluster matches the composed greatest-struct spec row-for-row") {
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    val both = emb.select(
      col("vec_id"),
      Ann.assignCluster(col("embedding"), cents).as("native"),
      Ann.assignClusterComposed(col("embedding"), cents).as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() == 0)
  }

  test("assignCluster at k=256 stays a single plan node and evaluates") {
    val rnd = new scala.util.Random(7)
    val cents = Seq.fill(256)(Seq.fill(64)(rnd.nextGaussian()))
    val df = emb.withColumn("c", Ann.assignCluster(col("embedding"), cents))
    // the plan must not grow with k: the assignment is ONE expression node
    // carrying the matrix as data (the composed form inlines 256 struct
    // literals and would dominate this string)
    val alias = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.last
    assert(alias.children.size == 1 &&
      alias.children.head.isInstanceOf[graft.functions.NearestCentroid])
    val vals = df.select("c").collect().map(_.getInt(0))
    assert(vals.forall(c => c >= 0 && c < 256))
    assert(vals.distinct.length > 1) // real spread, not a constant
  }

  test("assignCluster edges: dim mismatch → 0, null element → NULL") {
    import spark.implicits._
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val rows = Seq(
      (1L, Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0)), // dim mismatch: all sims -1 → 0
      (3L, Seq[java.lang.Double](1.0, null))      // null element → NULL
    ).toDF("id", "v")
    val out = rows.select(col("id"), Ann.assignCluster(col("v"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(out(1L) == 1)   // closer to (0,1)
    assert(out(2L) == 0)
    assert(out(3L) == null)
  }

  test("materialized LSH index: probe ≡ in-memory, append ≡ rebuild, files prune") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col
    val planes = Ann.planes(64, 6)
    val root = java.nio.file.Files.createTempDirectory("graft-lsh-ix").toString
    val dir = s"$root/index"
    Ann.buildLshIndex(emb, planes, dir)
    def got(p: String) = Ann.lshIndexTopK(spark, p, q, planes, 5)
      .select(col("vec_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = Ann.lshTopK(emb, q, 5, planes)
      .select(col("vec_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got(dir) == mem, "index probe must equal the in-memory probe")
    // append half-by-half ≡ the full build (stateless assignment)
    val dir2 = s"$root/appended"
    Ann.buildLshIndex(emb.filter(col("vec_id") % 2 === 0), planes, dir2)
    Ann.appendToLshIndex(emb.filter(col("vec_id") % 2 === 1), planes, dir2)
    assert(got(dir2) == got(dir))
    // plan-time pruning: only the probed buckets' files open
    val res = onSparkPlan(Ann.lshIndexTopK(spark, dir, q, planes, 5))
    res.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(res.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("graft-lsh-ix")))
      .getOrElse(fail("no parquet scan over the LSH index"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val total = walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    val opened = scan.metrics("numFiles").value
    assert(opened > 0 && opened < total,
      s"expected bucket file skipping: read $opened of $total")
    // delete + compact: probe ≡ in-memory over survivors; idempotent;
    // compacted layout carries no deleted row and no sidecar effect
    Ann.deleteFromLshIndex(emb.filter(col("vec_id") % 3 === 0), dir)
    Ann.deleteFromLshIndex(emb.filter(col("vec_id") % 3 === 0), dir) // idempotent
    val survivors = emb.filter(col("vec_id") % 3 =!= 0)
    val memSurv = Ann.lshTopK(survivors, q, 5, planes)
      .select(col("vec_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got(dir) == memSurv, "post-delete probe must rank only survivors")
    val dir3 = s"$root/compacted"
    Ann.compactLshIndex(spark, dir, dir3)
    assert(got(dir3) == memSurv)
    assert(spark.read.parquet(dir3)
      .filter(col("vec_id") % 3 === 0).count() == 0,
      "compact must apply tombstones physically")
    // health report — LSH's whole maintenance surface is MECHANICAL
    // debt (no drift: planes are stateless literals): raw row count
    // (deletes not subtracted), distinct tombstones, file-per-bucket
    // debt that appends grow and compact resets to exactly 1
    val h = Ann.lshIndexHealth(spark, dir).head()
    assert(h.getAs[Long]("n_rows") == emb.count(), h.toString)
    assert(h.getAs[Long]("n_tombstones") ==
      emb.filter(col("vec_id") % 3 === 0).count(), h.toString)
    val hAp = Ann.lshIndexHealth(spark, dir2).head() // half build + half append
    assert(hAp.getAs[Long]("n_files") > hAp.getAs[Long]("n_buckets"),
      s"append batches must register as file debt: $hAp")
    val h3 = Ann.lshIndexHealth(spark, dir3).head()
    assert(h3.getAs[Long]("n_tombstones") == 0L, h3.toString)
    assert(h3.getAs[Long]("n_files") == h3.getAs[Long]("n_buckets"),
      s"compact leaves exactly one file per bucket: $h3")
  }

  test("materialized IVF index: probe filter becomes file-level partition pruning") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/index"
    Ann.buildIvfIndex(emb, cents, dir)
    // driver-side probe ranking == the DataFrame round-6 ranking contract
    import spark.implicits._
    val qv = q.head().getSeq[Number](0).map(_.doubleValue()).toSeq
    val probes = Ann.probeIds(cents, qv, 3)
    val dfProbes = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cid", "centroid").crossJoin(q)
      .withColumn("csim",
        round(graft.vector.VectorOps.cosine(col("centroid"), col("qvec")), 6))
      .orderBy(col("csim").desc, col("cid").asc).limit(3)
      .select("cid").collect().map(_.getInt(0)).toSeq
    assert(probes == dfProbes)
    // index round-trip: written+pruned search == in-memory same-probe filter
    val res = onSparkPlan(Ann.ivfIndexTopK(spark, dir, q, cents, 5, 3))
    val got = res.collect().map(_.getAs[Long]("vec_id")).toSet
    val mem = Search.knn(
      emb.withColumn("__cluster", Ann.assignCluster(col("embedding"), cents))
        .filter(col("__cluster").isin(probes: _*)).drop("__cluster"), q, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == mem)
    assert((got & exact).size >= 3, s"recall too low: $got vs $exact")
    // the scan must prune at the FILE level: only probed clusters' files open
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(res.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("graft-ivf")))
      .getOrElse(fail("no parquet scan over the index found"))
    assert(scan.toString.contains("PartitionFilters"), "pruning must be static (plan-time)")
    val totalFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles > 0 && numFiles < totalFiles,
      s"expected file skipping: read $numFiles of $totalFiles files")
  }

  test("ivfIndexMaxPTopK: per-doc best chunk over probed clusters; all-probes ≡ exact maxP") {
    val docEmb = emb.withColumn("doc_id", floor(col("vec_id") / 8).cast("long"))
    val cents = Ann.kmeansCentroids(docEmb, "vec_id", "embedding", 10, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-maxp").toString + "/index"
    Ann.buildIvfIndex(docEmb, cents, dir)
    // nprobe = every cluster degenerates to the exact full-scan maxP
    val all = Ann.ivfIndexMaxPTopK(spark, dir, q, cents, 5, 10, "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exactMaxP = docEmb.crossJoin(q)
      .select(col("doc_id"),
        graft.vector.VectorOps.cosine6(col("embedding"), col("qvec")).as("sim"))
      .groupBy(col("doc_id")).agg(max(col("sim")).as("maxp"))
      .orderBy(col("maxp").desc, col("doc_id").asc).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all == exactMaxP, s"all-probe maxP $all vs exact $exactMaxP")
    // a pruned probe ranks docs by max over the PROBED rows only —
    // replay the restriction directly
    val qv = q.head().getSeq[Number](0).map(_.doubleValue()).toSeq
    val probes = Ann.probeIds(cents, qv, 3)
    val pruned = Ann.ivfIndexMaxPTopK(spark, dir, q, cents, 5, 3, "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = docEmb
      .withColumn("__cluster", Ann.assignCluster(col("embedding"), cents))
      .filter(col("__cluster").isin(probes: _*))
      .crossJoin(q)
      .select(col("doc_id"),
        graft.vector.VectorOps.cosine6(col("embedding"), col("qvec")).as("sim"))
      .groupBy(col("doc_id")).agg(max(col("sim")).as("maxp"))
      .orderBy(col("maxp").desc, col("doc_id").asc).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned == want, s"pruned maxP $pruned vs probed-rows replay $want")
  }

  test("incremental IVF append: append-then-probe ≡ rebuild-then-probe, pruning intact") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    val incDir = tmp + "/incremental"
    val fullDir = tmp + "/rebuilt"
    // base build on 80% of the corpus, then the remaining 20% arrives in
    // two delta batches (the reference's per-batch add, App.tsx:79)
    Ann.buildIvfIndex(emb.filter(col("vec_id") < 400), cents, incDir)
    Ann.appendToIvfIndex(emb.filter(col("vec_id") >= 400 && col("vec_id") < 450), cents, incDir)
    Ann.appendToIvfIndex(emb.filter(col("vec_id") >= 450), cents, incDir)
    Ann.buildIvfIndex(emb, cents, fullDir)
    val inc = onSparkPlan(Ann.ivfIndexTopK(spark, incDir, q, cents, 5, 3))
    val got = inc.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    val want = Ann.ivfIndexTopK(spark, fullDir, q, cents, 5, 3)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(got == want, s"append-then-probe $got != rebuild-then-probe $want")
    // appended files land inside the existing cluster directories, so
    // the probe's partition pruning still skips non-probed clusters
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(inc.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("incremental")))
      .getOrElse(fail("no parquet scan over the appended index found"))
    val totalFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(incDir)).count(_.getName.endsWith(".parquet"))
    }
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles > 0 && numFiles < totalFiles,
      s"expected file skipping after append: read $numFiles of $totalFiles files")
    // compaction: the small-files remedy must not move a single row —
    // same probe answer, strictly fewer files
    def countFiles(d: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(d)).count(_.getName.endsWith(".parquet"))
    }
    val compactDir = tmp + "/compacted"
    Ann.compactIvfIndex(spark, incDir, compactDir)
    assert(countFiles(compactDir) < countFiles(incDir),
      s"compaction must reduce files: ${countFiles(compactDir)} vs ${countFiles(incDir)}")
    val compacted = Ann.ivfIndexTopK(spark, compactDir, q, cents, 5, 3)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(compacted == got, s"compaction changed the probe: $compacted vs $got")
  }

  test("IVF tombstone delete: probe ≡ survivors rebuild; compaction applies; PQ codes covered") {
    import spark.implicits._
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString
    val idx = tmp + "/full"
    Ann.buildIvfIndex(emb, cents, idx)
    // delete 20% including the query vector itself; repeat one id
    Ann.deleteFromIvfIndex(emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")), idx)
    Ann.deleteFromIvfIndex(Seq(0L, 999999L).toDF("vec_id"), idx)
    def top(p: String) = Ann.ivfIndexTopK(spark, p, q, cents, 5, 3)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    val deleted = top(idx)
    assert(deleted.forall(_._1 % 5 != 0), "no deleted id may rank (self-hit gone)")
    val survivors = tmp + "/survivors"
    Ann.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), cents, survivors)
    assert(deleted == top(survivors),
      "tombstoned probe must reproduce a from-scratch build on the survivors")
    // health counts the RAW rows (the rewrite's I/O bound — the cost
    // basis of indexMaintainCosted) and DISTINCT tombstones (the
    // repeated 0L and the unknown 999999L collapse to one real id)
    val h = Ann.ivfIndexHealth(spark, idx).head()
    assert(h.getAs[Long]("n_rows") == emb.count(), h.toString)
    assert(h.getAs[Long]("n_tombstones") ==
      emb.filter(col("vec_id") % 5 === 0).count() + 1, h.toString)
    val compacted = tmp + "/compacted"
    Ann.compactIvfIndex(spark, idx, compacted)
    assert(top(compacted) == deleted, "compaction must not change probe results")
    assert(spark.read.parquet(compacted).filter(col("vec_id") % 5 === 0).count() == 0)
    // composed IVF-PQ index: deleting on the codes side removes the id
    // from shortlists (and therefore from reranked results)
    val cb = graft.search.Pq.train(emb, "vec_id", "embedding", 64, 8, 64, 2)
    val pqIdx = tmp + "/ivfpq"
    graft.search.Pq.buildIvfPqIndex(emb, cents, cb, pqIdx)
    graft.search.Pq.deleteFromIvfPqIndex(
      emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")), pqIdx)
    val pqTop = graft.search.Pq.ivfPqIndexTopK(spark, pqIdx, q, cents, cb,
        5, nprobe = 3, shortlist = 50)
      .collect().map(_.getLong(0)).toSeq
    assert(pqTop.nonEmpty && pqTop.forall(_ % 5 != 0))
  }

  test("retrain from current contents ≡ fresh build on the same rows; drift resets") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-retrain").toString
    val build = emb.filter(col("vec_id") < 80)
    val delta = emb.filter(col("vec_id") >= 80 && col("vec_id") < 120)
    val cents0 = Ann.kmeansCentroids(build, "vec_id", "embedding", 5, 2)
    val src = tmp + "/src"
    Ann.buildIvfIndex(build, cents0, src)
    Ann.recordIvfModel(spark, src, cents0)
    Ann.appendToIvfIndex(delta, cents0, src)
    // delete a few appended rows too — retrain must read SURVIVORS only
    Ann.deleteFromIvfIndex(Seq(85L, 90L).toDF("vec_id"), src)
    val dst = tmp + "/dst"
    val cents1 = Ann.retrainIvfIndex(spark, src, dst, 5, 2)
    // fresh build on exactly the surviving rows with a fresh trainer
    val survivors = emb.filter(
      col("vec_id") < 120 && !col("vec_id").isin(85L, 90L))
    val centsFresh = Ann.kmeansCentroids(survivors, "vec_id", "embedding", 5, 2)
    assert(cents1 == centsFresh, "deterministic trainer: retrain == fresh train")
    val fresh = tmp + "/fresh"
    Ann.buildIvfIndex(survivors, centsFresh, fresh)
    def top(p: String, cs: Seq[Seq[Double]]) =
      Ann.ivfIndexTopK(spark, p, q, cs, 5, 3)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(top(dst, cents1) == top(fresh, centsFresh),
      "retrained index must answer exactly like a fresh build on the survivors")
    // retrain re-records the baseline: drift of the just-retrained
    // index against itself is zero
    val d = Ann.assignmentDrift(spark, dst).head()
    assert(d.getDouble(2) == 0.0, s"fresh baseline must show zero drift, got $d")
  }

  test("assignmentDrift: appends against stale centroids push drift above zero") {
    // build on the low-id half, record, then append the rest — the
    // appended rows are assigned to centroids trained without them, so
    // their mean assigned-centroid similarity is lower and drift > 0
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-drift").toString
    val build = emb.filter(col("vec_id") < 100)
    val cents = Ann.kmeansCentroids(build, "vec_id", "embedding", 5, 2)
    val idx = tmp + "/idx"
    Ann.buildIvfIndex(build, cents, idx)
    Ann.recordIvfModel(spark, idx, cents)
    val before = Ann.assignmentDrift(spark, idx).head()
    assert(before.getDouble(2) == 0.0, "no appends yet: zero drift")
    Ann.appendToIvfIndex(emb.filter(col("vec_id") >= 100), cents, idx)
    val after = Ann.assignmentDrift(spark, idx).head()
    assert(after.getDouble(0) == before.getDouble(0), "baseline is immutable")
    assert(after.getDouble(2) > 0.0,
      s"appended distribution must sit farther from the stale centroids: $after")
  }

  test("filtered probe: predicate inside probed clusters; short clusters trigger exact fallback") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-filt").toString
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    val idx = tmp + "/idx"
    Ann.buildIvfIndex(emb, cents, idx)
    // permissive predicate: probed clusters hold ≥ k matches — results
    // must equal the plain probe's ranking restricted to matches
    val perm = Ann.ivfIndexTopKFiltered(spark, idx, q, cents,
        col("vec_id") % 3 =!= 0, 5, 3)
      .collect().map(_.getLong(0)).toSeq
    val plain = Ann.ivfIndexTopK(spark, idx, q, cents, 200, 3)
      .collect().map(_.getLong(0)).filter(_ % 3 != 0).take(5).toSeq
    assert(perm == plain, "filtered probe = plain probe ranking ∩ predicate")
    // selective predicate: only 3 matching rows EXIST in the whole
    // corpus (fewer than k) — the fallback must widen to the full index
    // and return all of them, not just those inside probed clusters
    val ids = Seq(7L, 11L, 13L)
    val rare = Ann.ivfIndexTopKFiltered(spark, idx, q, cents,
        col("vec_id").isin(ids: _*), 5, 1)
      .collect().map(_.getLong(0)).toSet
    assert(rare == ids.toSet,
      s"fallback must surface every matching row corpus-wide, got $rare")
  }

  test("batch filtered IVF probe ≡ per-query filtered probes; short qids fall back corpus-wide") {
    import spark.implicits._
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-fb").toString
    val idx = s"$tmp/index"
    Ann.buildIvfIndex(emb, cents, idx)
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val pred = col("vec_id") % 3 =!= 0
    val batch = Ann.ivfIndexTopKFilteredBatch(spark, idx, qs, cents, pred, 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap
    (0L until 4L).foreach { qid =>
      val q = emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val single = Ann.ivfIndexTopKFiltered(spark, idx, q, cents, pred, 5, 3)
        .select(col("vec_id"), col("sim"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(batch(qid) == single, s"qid $qid: batch ${batch(qid)} vs single $single")
    }
    // 3 matches corpus-wide, nprobe=1: every qid falls back and still
    // surfaces all 3
    val ids = Seq(7L, 11L, 13L)
    val rare = Ann.ivfIndexTopKFilteredBatch(spark, idx, qs, cents,
        col("vec_id").isin(ids: _*), 5, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 4L).foreach(qid =>
      assert(rare(qid) == ids.toSet, s"qid $qid fallback got ${rare.get(qid)}"))
  }

  test("range search ≡ brute-force threshold filter at every tau") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-range").toString
    val idx = s"$tmp/index"
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    Ann.buildIvfIndex(emb, cents, idx)
    Ann.recordRangeStats(spark, idx)
    def brute(tau: Double): Set[(Long, Double)] =
      emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.vector.VectorOps.cosine(col("embedding"), col("qvec")), 6).as("sim"))
        .filter(col("sim") >= tau)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    Seq(0.1, 0.25, 0.5, 0.99).foreach { tau =>
      val got = Ann.ivfRangeSearch(spark, idx, q, tau)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == brute(tau), s"tau=$tau: range result must be exact")
    }
  }

  test("range pruning skips certified clusters on clustered data, losslessly") {
    import spark.implicits._
    // two tight clusters near orthogonal axes + the query aligned with
    // the first: the second cluster's bound q·mu + radius sits far
    // below a high tau, so it must be pruned — and the result must
    // still be the exact brute-force answer
    val dim = 8
    def v(axis: Int, eps: Double, flip: Int): Seq[Float] =
      Seq.tabulate(dim)(i =>
        (if (i == axis) 1.0 else if (i == (axis + 1 + flip) % dim) eps else 0.0).toFloat)
    val rows =
      (0L until 20L).map(i => (i, v(0, 0.01 * (i % 3), (i % 2).toInt), 0)) ++
        (20L until 40L).map(i => (i, v(4, 0.01 * (i % 3), (i % 2).toInt), 1))
    val tight = rows.toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("graft-range-prune").toString
    val idx = s"$tmp/index"
    val cents = Ann.kmeansCentroids(tight, "vec_id", "embedding", 2, 3)
    Ann.buildIvfIndex(tight, cents, idx)
    Ann.recordRangeStats(spark, idx)
    val qv = tight.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val qvec = qv.head().getSeq[Number](0).map(_.doubleValue()).toSeq
    val probes = Ann.rangeProbeClusters(spark, idx, qvec, 0.9)
    assert(probes.size == 1, s"the off-axis cluster must be certified out, got $probes")
    val got = Ann.ivfRangeSearch(spark, idx, qv, 0.9)
      .collect().map(_.getLong(0)).toSet
    val brute = tight.crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(graft.vector.VectorOps.cosine(col("embedding"), col("qvec")), 6).as("sim"))
      .filter(col("sim") >= 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(got == brute, "pruned range search must stay exact")
    assert(got.nonEmpty && got.subsetOf((0L until 20L).toSet))
  }

  test("a rebuild deletes range stats: stale certificates cannot survive, re-record restores") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-range-rebuild").toString
    val idx = s"$tmp/index"
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    Ann.buildIvfIndex(emb.filter(col("vec_id") < 400), cents, idx)
    Ann.recordRangeStats(spark, idx)
    // fresh build at the same path: the old certificates describe the
    // old contents and MUST NOT be consulted — the probe fails loudly
    // on the missing stats instead of silently dropping vectors
    Ann.buildIvfIndex(emb, cents, idx)
    intercept[Exception] { Ann.ivfRangeSearch(spark, idx, q, 0.25).collect() }
    Ann.recordRangeStats(spark, idx)
    val got = Ann.ivfRangeSearch(spark, idx, q, 0.25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val brute = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.vector.VectorOps.cosine(col("embedding"), col("qvec")), 6).as("sim"))
      .filter(col("sim") >= 0.25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == brute)
  }

  test("range stats re-recorded after an append restore exactness") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-range-app").toString
    val idx = s"$tmp/index"
    val build = emb.filter(col("vec_id") < 400)
    val cents = Ann.kmeansCentroids(build, "vec_id", "embedding", 10, 2)
    Ann.buildIvfIndex(build, cents, idx)
    Ann.recordRangeStats(spark, idx)
    Ann.appendToIvfIndex(emb.filter(col("vec_id") >= 400), cents, idx)
    // the append DELETED the build-time certificate (appended rows can
    // exceed its radius): a range probe before the re-record must fail
    // loudly, never consult the stale stats
    intercept[Exception] { Ann.ivfRangeSearch(spark, idx, q, 0.25).collect() }
    Ann.recordRangeStats(spark, idx) // the documented post-append step
    val got = Ann.ivfRangeSearch(spark, idx, q, 0.25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val brute = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.vector.VectorOps.cosine(col("embedding"), col("qvec")), 6).as("sim"))
      .filter(col("sim") >= 0.25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == brute)
  }

  test("batch range search ≡ per-qid single-query range search") {
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 6, 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft-range-batch").toString + "/idx"
    Ann.buildIvfIndex(emb, cents, path)
    Ann.recordRangeStats(spark, path)
    val qids = Seq(0L, 7L, 21L)
    val qs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = Ann.ivfRangeSearchBatch(spark, path, qs, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val singles = qids.flatMap { q =>
      val one = emb.filter(col("vec_id") === q).select(col("embedding").as("qvec"))
      Ann.ivfRangeSearch(spark, path, one, 0.3)
        .collect().map(r => (q, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(batch == singles, s"batch diverges: ${batch.diff(singles)} / ${singles.diff(batch)}")
    assert(batch.nonEmpty, "vacuous fixture")
  }

  test("centroidOutliers ≡ driver-side brute force: assignment-consistent bottom-k") {
    import graft.vector.VectorOps
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 4, 2)
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Number](1).map(_.doubleValue()).toSeq)
    val expected = vecs.map { case (id, v) =>
      // same argmax convention as assignCluster: raw cosine, lowest cid ties
      val sims = cents.map(c => VectorOps.cosineLocal(v, c))
      val cid = sims.indices.maxBy(i => (sims(i), -i))
      (id, cid.toLong, VectorOps.round6(sims(cid)))
    }.sortBy { case (id, _, s) => (s, id) }.take(5).toSeq
    val got = Ann.centroidOutliers(emb, cents, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("LSH buckets are deterministic across runs (seeded planes)") {
    val p = Ann.planes(64, 8)
    val b1 = emb.withColumn("b", Ann.lshBucket(col("embedding"), p))
      .select("vec_id", "b").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val b2 = emb.withColumn("b", Ann.lshBucket(col("embedding"), Ann.planes(64, 8)))
      .select("vec_id", "b").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(b1 == b2)
  }

  test("directed multi-probe: t=nbits ≡ the full Hamming-1 ring; t=0 = home bucket only") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val planes = Ann.planes(64, 8)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSeq
    // flipping ALL bits = the same probe set as the blanket ring
    assert(ids(Ann.lshTopKDirected(emb, q, 5, planes, t = 8)) ==
      ids(Ann.lshTopK(emb, q, 5, planes)))
    // t=0 searches only the home bucket — a subset of any directed set
    val home = ids(Ann.lshTopKDirected(emb, q, 20, planes, t = 0)).toSet
    val t3 = ids(Ann.lshTopKDirected(emb, q, 200, planes, t = 3)).toSet
    assert(home.subsetOf(t3),
      "home-bucket results must survive when probes widen")
  }
}
