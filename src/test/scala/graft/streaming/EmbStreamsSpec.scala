package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.EmbStreams.EmbQuery

/** Streaming vector-search serving must return EXACTLY what the batch
  * IVF search (gated e05) returns for the same query set: same probed
  * cells, same exact in-cell ranking, same rounded cosines — with the
  * queries arriving across micro-batches instead of as a column.
  */
class EmbStreamsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("emb-streams-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streaming IVF serving equals batch e05 search on the same queries") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"

    // index built once, batch-side, through the e05-gated facade
    // handle; serving goes THROUGH the handle (IvfIndex.serve) — no
    // disassembly into (assigned, centroids). The corpus assignment
    // is cached as a real serving index would be.
    val idx = graft.api.Graft.annIndex(
      spark.read.parquet(s"$d/embeddings.parquet"))
    val cached = idx.assigned.cache()
    try {
      val ts = Timestamp.valueOf("2026-01-01 09:00:00")
      val qvecs = spark.read.parquet(s"$d/embeddings.parquet")
        .filter($"vec_id" < 5).select("vec_id", "embedding").collect()
        .map(r => EmbQuery(r.getLong(0), ts, r.getSeq[Float](1)))
      assert(qvecs.length == 5)
      val (b1, b2) = qvecs.splitAt(2)

      val stream = MemoryStream[EmbQuery]
      val q = idx.serve(stream.toDS())
        .writeStream.format("memory").queryName("ann_hits")
        .outputMode(OutputMode.Append())
        .start()
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      q.stop()

      def asTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
      val streamed = asTuples(spark.table("ann_hits").collect())
      val batch = asTuples(
        graft.operators.SimilarityQueries.e05AnnIvf.fn(spark, d).collect())
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"serving diverged from batch e05: " +
          s"onlyStream=${(streamed -- batch).take(5)} " +
          s"onlyBatch=${(batch -- streamed).take(5)}")
    } finally cached.unpersist()
  }

  test("streaming PQ serving equals batch e09 ADC search on the same queries") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"

    // index built once, batch-side, through the e09-gated facade; the
    // 4-byte code table is cached as a real serving deployment would
    val idx = graft.api.Graft.pqIndex(
      spark.read.parquet(s"$d/embeddings.parquet"))
    val codes = idx.codes.cache()
    try {
      val ts = Timestamp.valueOf("2026-01-01 09:00:00")
      val qvecs = spark.read.parquet(s"$d/embeddings.parquet")
        .filter($"vec_id" < 5).select("vec_id", "embedding").collect()
        .map(r => EmbQuery(r.getLong(0), ts, r.getSeq[Float](1)))
      val (b1, b2) = qvecs.splitAt(2)

      val stream = MemoryStream[EmbQuery]
      // serving goes THROUGH the handle (PqIndex.serve): the cached
      // codes frame shares its plan with idx.codes, so the serving
      // join reads the cache
      val q = idx.serve(stream.toDS())
        .writeStream.format("memory").queryName("pq_hits")
        .outputMode(OutputMode.Append())
        .start()
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      // the serving plan reads CODES only, never raw vectors, and the
      // LUT side broadcasts (a shuffled join would re-sort the code
      // table every trigger)
      val plan = q
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      q.stop()
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"),
        s"LUT side must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"the code table must never shuffle for the serving join:\n$plan")
      // codes-only reads hold by SCHEMA: the joined static side is
      // idx.codes (vec_id + code_0..3 — pinned by GraftApiSpec), which
      // carries no raw-vector column to read in the first place

      def asTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("approx_ip"))).toSet
      val streamed = asTuples(spark.table("pq_hits").collect())
      val batch = asTuples(
        graft.operators.SimilarityQueries.e09AnnPq.fn(spark, d).collect())
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"PQ serving diverged from batch e09: " +
          s"onlyStream=${(streamed -- batch).take(5)} " +
          s"onlyBatch=${(batch -- streamed).take(5)}")
    } finally codes.unpersist()
  }

  test("serving micro-batch plan broadcasts the query side; the corpus never shuffles for the join") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val (assigned, centroids) =
      graft.operators.SimilarityQueries.ivfIndex(spark, d)
    val cached = assigned.cache()
    try {
      val ts = Timestamp.valueOf("2026-01-01 09:00:00")
      val qvec = spark.read.parquet(s"$d/embeddings.parquet")
        .filter($"vec_id" === 0).select("vec_id", "embedding").collect()
        .map(r => EmbQuery(r.getLong(0), ts, r.getSeq[Float](1)))
      val stream = MemoryStream[EmbQuery]
      val q = EmbStreams.ivfServe(stream.toDS(), cached, centroids)
        .writeStream.format("memory").queryName("ann_plan_probe")
        .outputMode(OutputMode.Append())
        .start()
      stream.addData(qvec.toSeq)
      q.processAllAvailable()
      // the last micro-batch's physical plan: the serving claim is that
      // the tiny probe side broadcasts into the corpus scan — a
      // regression to a shuffled join would put an Exchange on the
      // static side and re-shuffle the corpus EVERY batch
      val plan = q
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      q.stop()
      assert(plan.contains("BroadcastHashJoin"),
        s"probe-cell join must be a broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"the static corpus must never shuffle for the serving join:\n$plan")
    } finally cached.unpersist()
  }

  private def hitTuples(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r =>
    (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet

  test("pruned serving reads ONLY the probed cells' partitions and equals batch e05") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    // the durable pairing: IvfIndex.save writes the cell-partitioned
    // layout, and the handle's servePruned reads it back with
    // per-batch partition pruning — no manual partitionBy plumbing
    val idx = graft.api.Graft.annIndex(
      spark.read.parquet(s"$d/embeddings.parquet"))
    val saveDir = java.nio.file.Files.createTempDirectory("graft_ivf_save")
      .toFile.getAbsolutePath
    idx.save(saveDir)
    val dir = s"$saveDir/assigned"
    def parquetFiles(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    val totalFiles = parquetFiles(new java.io.File(dir))
    val totalCells = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("cell="))
    assert(totalCells > 2, s"need >2 cells to observe pruning, got $totalCells")

    val ts = Timestamp.valueOf("2026-01-01 09:00:00")
    val qvec = spark.read.parquet(s"$d/embeddings.parquet")
      .filter($"vec_id" === 0).select("vec_id", "embedding").collect()
      .map(r => EmbQuery(r.getLong(0), ts, r.getSeq[Float](1)))
    val hits = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
    val scannedFiles = new java.util.concurrent.atomic.AtomicLong(-1)
    val stream = MemoryStream[EmbQuery]
    val q = idx.servePruned(stream.toDS(), dir) { batch =>
      val rows = batch.collect()
      hits.synchronized { hits ++= hitTuples(rows.toSeq) }
      // after the action the (adaptive) plan is final; its file scan
      // carries the files-read metric — THE pruning evidence. AQE wraps
      // the tree in leaf-like nodes (AdaptiveSparkPlanExec /
      // QueryStageExec), so the traversal must unwrap them explicitly.
      def findScan(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          findScan(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findScan(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          scannedFiles.set(f.metrics("numFiles").value)
        case other => other.children.foreach(findScan)
      }
      findScan(batch.queryExecution.executedPlan)
    }
    stream.addData(qvec.toSeq)
    q.processAllAvailable()
    q.stop()

    val batchE05 = hitTuples(
      graft.operators.SimilarityQueries.e05AnnIvf.fn(spark, d)
        .filter($"query_id" === 0).collect().toSeq)
    assert(hits.nonEmpty)
    assert(hits.toSet == batchE05,
      s"pruned serving diverged from batch e05: " +
        s"onlyStream=${(hits.toSet -- batchE05).take(5)} " +
        s"onlyBatch=${(batchE05 -- hits).take(5)}")
    // one query probes nprobe=2 of the >2 cells: the scan must have
    // read strictly fewer files than the corpus holds
    assert(scannedFiles.get() > 0, "file-scan metric not observed")
    assert(scannedFiles.get() < totalFiles,
      s"expected partition pruning: scanned ${scannedFiles.get()} of $totalFiles files")
  }

  test("watermarked dedup serves a retried query_id exactly once") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val (assigned, centroids) =
      graft.operators.SimilarityQueries.ivfIndex(spark, d)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_corpus2")
      .toFile.getAbsolutePath
    assigned.write.mode("overwrite").partitionBy("cell").parquet(dir)

    val embs = spark.read.parquet(s"$d/embeddings.parquet")
      .filter($"vec_id" < 2).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val q0 = EmbQuery(embs(0)._1, Timestamp.valueOf("2026-01-01 09:00:00"), embs(0)._2)
    // the retry: same query_id re-delivered a minute later (at-least-once upstream)
    val q0retry = q0.copy(ts = Timestamp.valueOf("2026-01-01 09:01:00"))
    val q1 = EmbQuery(embs(1)._1, Timestamp.valueOf("2026-01-01 09:02:00"), embs(1)._2)

    val served = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    val stream = MemoryStream[EmbQuery]
    val q = EmbStreams.ivfServePruned(
      EmbStreams.dedupWithinWatermark(stream.toDS(), "10 minutes"),
      dir, centroids) { batch =>
      val rows = batch.collect()
      served.synchronized { served ++= hitTuples(rows.toSeq) }
    }
    stream.addData(Seq(q0))
    q.processAllAvailable()
    stream.addData(Seq(q0retry, q1))
    q.processAllAvailable()
    q.stop()

    val perQuery = served.groupBy(_._1).view.mapValues(_.size).toMap
    // query 0 arrived twice within the horizon but is served once (k=3
    // hits, not 6); query 1 is served normally
    assert(perQuery.get(0L).contains(3),
      s"retried query must be served exactly once: $perQuery")
    assert(perQuery.get(1L).contains(3),
      s"fresh query must still be served: $perQuery")
    // and what WAS served is the gated batch answer
    val batchE05 = hitTuples(
      graft.operators.SimilarityQueries.e05AnnIvf.fn(spark, d)
        .filter($"query_id" < 2).collect().toSeq)
    assert(served.toSet == batchE05)
  }

  test("FILTERED serving (ivfServe over a semi-joined index) equals batch e24") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    // filtered serving needs NO new streaming code: the metadata
    // predicate restricts the SERVED index frame (the same semi-join
    // searchWhere applies batch-side), and ivfServe runs unchanged —
    // which this test pins by matching the e24 gate exactly
    val (assigned, centroids) =
      graft.operators.SimilarityQueries.ivfIndex(spark, d)
    val keep = spark.read.parquet(s"$d/documents.parquet")
      .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .select(col("doc_id").as("vec_id"))
    val filtered = assigned.join(keep, Seq("vec_id"), "left_semi").cache()
    try {
      val ts = Timestamp.valueOf("2026-01-01 09:00:00")
      val qvecs = spark.read.parquet(s"$d/embeddings.parquet")
        .filter($"vec_id" < 5).select("vec_id", "embedding").collect()
        .map(r => EmbQuery(r.getLong(0), ts, r.getSeq[Float](1)))
      val (b1, b2) = qvecs.splitAt(3)
      val stream = MemoryStream[EmbQuery]
      val q = EmbStreams.ivfServe(stream.toDS(), filtered, centroids)
        .writeStream.format("memory").queryName("ann_hits_filtered")
        .outputMode(OutputMode.Append())
        .start()
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      q.stop()
      def asTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
      val streamed = asTuples(spark.table("ann_hits_filtered").collect())
      val batch = asTuples(
        graft.operators.SimilarityQueries.e24FilteredIvf.fn(spark, d)
          .collect())
      assert(streamed.nonEmpty && streamed == batch,
        s"filtered serving diverged from the e24 gate: " +
          s"onlyStream=${(streamed -- batch).take(5)} " +
          s"onlyBatch=${(batch -- streamed).take(5)}")
    } finally filtered.unpersist()
  }

  test("streaming ivfAppend equals the batch append assignment") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ts = Timestamp.valueOf("2026-01-01 09:00:00")

    // centroids trained on the pre-append snapshot (e26's split)
    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.annIndex(e.filter($"vec_id" % 5 =!= 0))

    val arriving = e.filter($"vec_id" % 5 === 0)
      .select("vec_id", "embedding").collect()
      .map(r => EmbStreams.EmbArrival(r.getLong(0), ts, r.getSeq[Float](1)))
    assert(arriving.nonEmpty)
    val (b1, b2) = arriving.splitAt(arriving.length / 2)

    val appended = scala.collection.mutable.Set[(Long, Int)]()
    val stream = MemoryStream[EmbStreams.EmbArrival]
    // the streaming write path goes THROUGH the handle
    // (IvfIndex.appendStream) — e26's batch append contract, at ingest
    val q = idx.appendStream(stream.toDS()) { assigned =>
      val rows = assigned.collect().map(r =>
        (r.getAs[Long]("vec_id"), r.getAs[Int]("cell")))
      appended.synchronized { appended ++= rows }
    }
    stream.addData(b1.toSeq)
    q.processAllAvailable()
    stream.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()

    // batch truth: the same arrivals assigned by the shared gated kernel
    val expected = graft.operators.SimilarityQueries
      .assignCells(e.filter($"vec_id" % 5 === 0), idx.centroids)
      .collect().map(r =>
        (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"))).toSet
    assert(expected.nonEmpty && appended.toSet == expected,
      s"streaming append diverged from batch assignment: " +
        s"onlyStream=${(appended.toSet -- expected).take(5)} " +
        s"onlyBatch=${(expected -- appended).take(5)}")
  }

  test("streaming drift monitor's final report equals the batch e28 drift") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ts = Timestamp.valueOf("2026-01-01 09:00:00")

    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.annIndex(e.filter($"vec_id" % 5 =!= 0))
    val assigned = idx.assigned.cache()
    try {
      val arriving = e.filter($"vec_id" % 5 === 0)
        .select("vec_id", "embedding").collect()
        .map(r => EmbStreams.EmbArrival(r.getLong(0), ts, r.getSeq[Float](1)))
      val (b1, b2) = arriving.splitAt(arriving.length / 2)

      def toTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Int]("cell"), r.getAs[Long]("n_base"),
          r.getAs[Long]("n_new"), r.getAs[Long]("ppm_base"),
          r.getAs[Long]("ppm_new"), r.getAs[Long]("drift_ppm"))).toSet

      var reports = List.empty[Set[(Int, Long, Long, Long, Long, Long)]]
      val stream = MemoryStream[EmbStreams.EmbArrival]
      // the monitor runs THROUGH the handle (IvfIndex.driftMonitor):
      // no manual centroid pull, no handle disassembly; the cached
      // assigned frame shares its plan with idx.assigned
      val q = idx.driftMonitor(stream.toDS()) { rep =>
        val t = toTuples(rep.collect())
        reports.synchronized { reports = t :: reports }
      }
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      q.stop()

      // the running state makes each report cover ALL arrivals so far:
      // the final report must equal the batch e28 drift of the full set
      val expected = toTuples(
        idx.drift(e.filter($"vec_id" % 5 === 0)).collect())
      assert(reports.nonEmpty && expected.nonEmpty)
      assert(reports.head == expected,
        s"final streaming report diverged from batch drift: " +
          s"onlyStream=${(reports.head -- expected).take(5)} " +
          s"onlyBatch=${(expected -- reports.head).take(5)}")
      // the mid-stream report counted only the first batch's arrivals
      assert(reports.last.toSeq.map(_._3).sum == b1.length)
    } finally assigned.unpersist()
  }

  test("drift monitor restarted on its checkpoint RESUMES counts without reprocessing committed arrivals") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ts = Timestamp.valueOf("2026-01-01 09:00:00")

    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.annIndex(e.filter($"vec_id" % 5 =!= 0))
    val assigned = idx.assigned.cache()
    try {
      val arriving = e.filter($"vec_id" % 5 === 0)
        .select("vec_id", "embedding").collect()
        .map(r => EmbStreams.EmbArrival(r.getLong(0), ts, r.getSeq[Float](1)))
      val (b1, b2) = arriving.splitAt(arriving.length / 2)

      def toTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Int]("cell"), r.getAs[Long]("n_base"),
          r.getAs[Long]("n_new"), r.getAs[Long]("ppm_base"),
          r.getAs[Long]("ppm_new"), r.getAs[Long]("drift_ppm"))).toSet

      val cp = java.nio.file.Files
        .createTempDirectory("graft-drift-cp").toString
      val stream = MemoryStream[EmbStreams.EmbArrival]

      // life 1: process b1 on a durable checkpoint, then STOP
      val q1 = idx.driftMonitor(stream.toDS(), Some(cp)) { _ => () }
      stream.addData(b1.toSeq)
      q1.processAllAvailable()
      q1.stop()

      // b2 arrives while the monitor is down
      stream.addData(b2.toSeq)

      // life 2: restart on the SAME checkpoint
      var reports = List.empty[Set[(Int, Long, Long, Long, Long, Long)]]
      val q2 = idx.driftMonitor(stream.toDS(), Some(cp)) { rep =>
        val t = toTuples(rep.collect())
        reports.synchronized { reports = t :: reports }
      }
      q2.processAllAvailable()
      val inputRows = q2.recentProgress.map(_.numInputRows).sum
      q2.stop()

      // the restarted monitor read ONLY the uncommitted arrivals ...
      assert(inputRows == b2.length,
        s"restart reprocessed committed arrivals: read $inputRows rows, " +
          s"expected only the ${b2.length} new ones")
      // ... yet its report covers ALL arrivals — the running counts
      // were RESTORED from the state store, not recomputed
      val expected = toTuples(
        idx.drift(e.filter($"vec_id" % 5 === 0)).collect())
      assert(reports.nonEmpty && reports.head == expected,
        s"post-restart report diverged from batch drift over all arrivals: " +
          s"onlyStream=${(reports.headOption.getOrElse(Set.empty) -- expected).take(5)} " +
          s"onlyBatch=${(expected -- reports.headOption.getOrElse(Set.empty)).take(5)}")
    } finally assigned.unpersist()
  }

  test("streaming IVF-PQ coarse drift monitor's final report equals the batch e32 drift") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ts = Timestamp.valueOf("2026-01-01 09:00:00")

    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.ivfPqIndex(e.filter($"vec_id" % 7 =!= 0))
    val codes = idx.codes.cache()
    try {
      val arriving = e.filter($"vec_id" % 7 === 0)
        .select("vec_id", "embedding").collect()
        .map(r => EmbStreams.EmbArrival(r.getLong(0), ts, r.getSeq[Float](1)))
      val (b1, b2) = arriving.splitAt(arriving.length / 2)

      def toTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Int]("cell"), r.getAs[Long]("n_base"),
          r.getAs[Long]("n_new"), r.getAs[Long]("ppm_base"),
          r.getAs[Long]("ppm_new"), r.getAs[Long]("drift_ppm"))).toSet

      var reports = List.empty[Set[(Int, Long, Long, Long, Long, Long)]]
      val stream = MemoryStream[EmbStreams.EmbArrival]
      // through the handle: the stored composite code table carries
      // `cell`, so the e28-shaped monitor runs against it directly
      val q = idx.driftMonitor(stream.toDS()) { rep =>
        val t = toTuples(rep.collect())
        reports.synchronized { reports = t :: reports }
      }
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      q.stop()

      val expected = toTuples(
        idx.drift(e.filter($"vec_id" % 7 === 0)).collect())
      assert(reports.nonEmpty && expected.nonEmpty)
      assert(reports.head == expected,
        s"final IVF-PQ streaming report diverged from batch e32 drift: " +
          s"onlyStream=${(reports.head -- expected).take(5)} " +
          s"onlyBatch=${(expected -- reports.head).take(5)}")
      assert(reports.last.toSeq.map(_._3).sum == b1.length)
    } finally codes.unpersist()
  }

  test("streaming IVF-PQ residual drift monitor's final report equals the batch e34 drift") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ts = Timestamp.valueOf("2026-01-01 09:00:00")

    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.ivfPqIndex(e.filter($"vec_id" % 7 =!= 0))
    val codes = idx.codes.cache()
    try {
      val arriving = e.filter($"vec_id" % 7 === 0)
        .select("vec_id", "embedding").collect()
        .map(r => EmbStreams.EmbArrival(r.getLong(0), ts, r.getSeq[Float](1)))
      val (b1, b2) = arriving.splitAt(arriving.length / 2)

      def toTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Int]("m"), r.getAs[Int]("code"), r.getAs[Long]("n_base"),
          r.getAs[Long]("n_new"), r.getAs[Long]("ppm_base"),
          r.getAs[Long]("ppm_new"), r.getAs[Long]("drift_ppm"))).toSet

      var reports = List.empty[Set[(Int, Int, Long, Long, Long, Long, Long)]]
      val stream = MemoryStream[EmbStreams.EmbArrival]
      val q = idx.residualDriftMonitor(stream.toDS()) { rep =>
        val t = toTuples(rep.collect())
        reports.synchronized { reports = t :: reports }
      }
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      q.stop()

      val expected = toTuples(
        idx.residualDrift(e.filter($"vec_id" % 7 === 0)).collect())
      assert(reports.nonEmpty && expected.nonEmpty)
      assert(reports.head == expected,
        s"final IVF-PQ residual report diverged from batch e34 drift: " +
          s"onlyStream=${(reports.head -- expected).take(5)} " +
          s"onlyBatch=${(expected -- reports.head).take(5)}")
      // each arrival contributes one code per subspace
      assert(reports.last.toSeq.map(_._4).sum ==
        b1.length.toLong * idx.codebooks.length)
    } finally codes.unpersist()
  }

  test("streaming PQ code-drift monitor's final report equals the batch e31 drift") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ts = Timestamp.valueOf("2026-01-01 09:00:00")

    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.pqIndex(e.filter($"vec_id" % 7 =!= 0))
    val codes = idx.codes.cache()
    try {
      val arriving = e.filter($"vec_id" % 7 === 0)
        .select("vec_id", "embedding").collect()
        .map(r => EmbStreams.EmbArrival(r.getLong(0), ts, r.getSeq[Float](1)))
      val (b1, b2) = arriving.splitAt(arriving.length / 2)

      def toTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Int]("m"), r.getAs[Int]("code"), r.getAs[Long]("n_base"),
          r.getAs[Long]("n_new"), r.getAs[Long]("ppm_base"),
          r.getAs[Long]("ppm_new"), r.getAs[Long]("drift_ppm"))).toSet

      var reports = List.empty[Set[(Int, Int, Long, Long, Long, Long, Long)]]
      val stream = MemoryStream[EmbStreams.EmbArrival]
      // through the handle (PqIndex.driftMonitor) — the stateless
      // encode projection uses the frozen codebook literals
      val q = idx.driftMonitor(stream.toDS()) { rep =>
        val t = toTuples(rep.collect())
        reports.synchronized { reports = t :: reports }
      }
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      q.stop()

      val expected = toTuples(
        idx.drift(e.filter($"vec_id" % 7 === 0)).collect())
      assert(reports.nonEmpty && expected.nonEmpty)
      assert(reports.head == expected,
        s"final streaming report diverged from batch e31 drift: " +
          s"onlyStream=${(reports.head -- expected).take(5)} " +
          s"onlyBatch=${(expected -- reports.head).take(5)}")
      // the mid-stream report counted only the first batch's arrivals
      // (each arrival contributes one code per subspace)
      assert(reports.last.toSeq.map(_._4).sum ==
        b1.length.toLong * idx.codebooks.length)
    } finally codes.unpersist()
  }

  test("windowed drift monitor: per-window report equals batch e28 drift of exactly the in-window arrivals; late rows are dropped") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"

    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.annIndex(e.filter($"vec_id" % 5 =!= 0))
    val assigned = idx.assigned.cache()
    try {
      // two 10-minute tumbling windows: even-indexed arrivals land in
      // [09:00, 09:10), odd-indexed in [09:10, 09:20)
      val ts1 = Timestamp.valueOf("2026-01-01 09:03:00")
      val ts2 = Timestamp.valueOf("2026-01-01 09:12:00")
      val arriving = e.filter($"vec_id" % 5 === 0)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val w1 = arriving.zipWithIndex.filter(_._2 % 2 == 0).map(_._1)
      val w2 = arriving.zipWithIndex.filter(_._2 % 2 == 1).map(_._1)
      assert(w1.nonEmpty && w2.nonEmpty)

      def toTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Int]("cell"), r.getAs[Long]("n_base"),
          r.getAs[Long]("n_new"), r.getAs[Long]("ppm_base"),
          r.getAs[Long]("ppm_new"), r.getAs[Long]("drift_ppm"))).toSet

      // latest report per window (Update mode re-reports a window as
      // its counts grow; the last one is the window's final answer)
      val latest = scala.collection.mutable.Map
        .empty[(Timestamp, Timestamp),
          Set[(Int, Long, Long, Long, Long, Long)]]
      val reportsPerWindow = scala.collection.mutable.Map
        .empty[(Timestamp, Timestamp), Int]
      val stream = MemoryStream[EmbStreams.EmbArrival]
      val q = idx.driftMonitorWindowed(stream.toDS()) { (ws, we, rep) =>
        val t = toTuples(rep.collect())
        latest.synchronized {
          latest((ws, we)) = t
          reportsPerWindow((ws, we)) =
            reportsPerWindow.getOrElse((ws, we), 0) + 1
        }
      }
      stream.addData(w1.map { case (id, emb) =>
        EmbStreams.EmbArrival(id, ts1, emb) }.toSeq)
      q.processAllAvailable()
      stream.addData(w2.map { case (id, emb) =>
        EmbStreams.EmbArrival(id, ts2, emb) }.toSeq)
      q.processAllAvailable()
      val w1Key = (Timestamp.valueOf("2026-01-01 09:00:00"),
        Timestamp.valueOf("2026-01-01 09:10:00"))
      val w2Key = (Timestamp.valueOf("2026-01-01 09:10:00"),
        Timestamp.valueOf("2026-01-01 09:20:00"))
      val w1ReportsBeforeLate = reportsPerWindow.get(w1Key)
      // a LATE w1 arrival: by now the watermark sits at ts2 (lateness
      // 0), so the [09:00, 09:10) window is closed — the row must be
      // dropped, not resurrect the window
      stream.addData(Seq(
        EmbStreams.EmbArrival(arriving.head._1, ts1, arriving.head._2)))
      q.processAllAvailable()
      q.stop()

      val w1Ids = w1.map(_._1).toSet
      val w2Ids = w2.map(_._1).toSet
      val expected1 = toTuples(idx.drift(
        e.filter($"vec_id".isInCollection(w1Ids))).collect())
      val expected2 = toTuples(idx.drift(
        e.filter($"vec_id".isInCollection(w2Ids))).collect())
      assert(latest.get(w1Key).contains(expected1),
        s"window-1 report diverged from batch drift of its arrivals")
      assert(latest.get(w2Key).contains(expected2),
        s"window-2 report diverged from batch drift of its arrivals")
      // the late row produced no further w1 report
      assert(reportsPerWindow.get(w1Key) == w1ReportsBeforeLate,
        s"late arrival must not reopen a closed window: $reportsPerWindow")
      // and only the two real windows ever reported
      assert(latest.keySet == Set(w1Key, w2Key))
    } finally assigned.unpersist()
  }

  test("windowed drift monitor restarted mid-window reports the window's FULL arrival set") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"

    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.annIndex(e.filter($"vec_id" % 5 =!= 0))
    val assigned = idx.assigned.cache()
    try {
      val ts1 = Timestamp.valueOf("2026-01-01 09:03:00")
      val arriving = e.filter($"vec_id" % 5 === 0)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      // both halves land in the SAME [09:00, 09:10) window — the
      // restart seam cuts through one open window
      val (h1, h2) = arriving.splitAt(arriving.length / 2)

      def toTuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Int]("cell"), r.getAs[Long]("n_base"),
          r.getAs[Long]("n_new"), r.getAs[Long]("ppm_base"),
          r.getAs[Long]("ppm_new"), r.getAs[Long]("drift_ppm"))).toSet

      val cp = java.nio.file.Files
        .createTempDirectory("graft-winmon-cp").toString
      val stream = MemoryStream[EmbStreams.EmbArrival]

      // life 1: half the window's arrivals, then STOP mid-window
      val q1 = idx.driftMonitorWindowed(stream.toDS(),
        checkpointDir = Some(cp)) { (_, _, _) => () }
      stream.addData(h1.map { case (id, v) =>
        EmbStreams.EmbArrival(id, ts1, v) }.toSeq)
      q1.processAllAvailable()
      q1.stop()

      // the window's other half arrives while the monitor is down
      stream.addData(h2.map { case (id, v) =>
        EmbStreams.EmbArrival(id, ts1, v) }.toSeq)

      // life 2: the restarted fold must be SEEDED from the checkpoint
      // (Update mode re-emits only cells h2 touches; the cells only h1
      // hit live solely in the restored state)
      val latest = scala.collection.mutable.Map
        .empty[(Timestamp, Timestamp),
          Set[(Int, Long, Long, Long, Long, Long)]]
      val q2 = idx.driftMonitorWindowed(stream.toDS(),
        checkpointDir = Some(cp)) { (ws, we, rep) =>
        val t = toTuples(rep.collect())
        latest.synchronized { latest((ws, we)) = t }
      }
      q2.processAllAvailable()
      val inputRows = q2.recentProgress.map(_.numInputRows).sum
      q2.stop()

      assert(inputRows == h2.length,
        s"restart reprocessed committed arrivals: read $inputRows, " +
          s"expected only the ${h2.length} new ones")
      val wKey = (Timestamp.valueOf("2026-01-01 09:00:00"),
        Timestamp.valueOf("2026-01-01 09:10:00"))
      val expected = toTuples(idx.drift(
        e.filter($"vec_id" % 5 === 0)).collect())
      assert(latest.get(wKey).contains(expected),
        s"post-restart window report diverged from batch drift of the " +
          s"FULL window: got=${latest.get(wKey).map(_.take(5))} " +
          s"expectedSample=${expected.take(5)}")
    } finally assigned.unpersist()
  }

  test("streaming IVF-PQ serving through the handle equals batch e18 search") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$d/embeddings.parquet")

    // index built once through the e18-gated facade; serving goes
    // THROUGH the handle (IvfPqIndex.serve) — per batch it runs the
    // exact gated search kernel, so equality here is by construction,
    // and this test pins that the plumbing (renames, batch boundaries,
    // probe/k defaults) preserves it across micro-batches
    val idx = graft.api.Graft.ivfPqIndex(emb)
    val codes = idx.codes.cache()
    try {
      val ts = Timestamp.valueOf("2026-01-01 09:00:00")
      val qvecs = emb.filter($"vec_id" < 5).select("vec_id", "embedding")
        .collect().map(r => EmbQuery(r.getLong(0), ts, r.getSeq[Float](1)))
      val (b1, b2) = qvecs.splitAt(2)
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Double)]
      val stream = MemoryStream[EmbQuery]
      val q = idx.serve(stream.toDS()) { hits =>
        val rows = hits.collect().map(r =>
          (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
            r.getAs[Long]("vec_id"), r.getAs[Double]("approx_cos")))
        got.synchronized { got ++= rows }
      }
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()
      val batch = idx.search(emb.filter($"vec_id" < 5)).collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("approx_cos"))).toSet
      assert(got.nonEmpty && got.toSet == batch,
        s"IVF-PQ serving diverged from batch e18: " +
          s"onlyStream=${(got.toSet -- batch).take(5)} " +
          s"onlyBatch=${(batch -- got.toSet).take(5)}")
    } finally codes.unpersist()
  }
  test("servePrunedStore masks tombstones; raw-path servePruned still sees them until compact") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.annIndex(emb)
    val saveDir = java.nio.file.Files
      .createTempDirectory("graft_ivf_tomb").toString
    idx.save(saveDir)
    // delete the CURRENT top-3 neighbors of the query set, so the
    // tombstones are guaranteed to matter: the raw path must surface
    // them, the masked paths must not
    val baseline = graft.api.Graft.loadAnnIndex(spark, saveDir)
      .search(emb.filter($"vec_id" < 5)).collect()
      .map(_.getAs[Long]("neighbor_id")).toSet
    assert(baseline.nonEmpty)
    graft.api.Graft.deleteFromIndex(spark, saveDir,
      baseline.toSeq.toDF("vec_id"))
    val deleted = baseline

    val ts = Timestamp.valueOf("2026-01-01 09:00:00")
    val qvecs = emb.filter($"vec_id" < 5)
      .select("vec_id", "embedding").collect()
      .map(r => EmbQuery(r.getLong(0), ts, r.getSeq[Float](1)))

    def served(store: Boolean): Set[(Long, Long, Long, Double)] = {
      val hits = scala.collection.mutable
        .Set[(Long, Long, Long, Double)]()
      val stream = MemoryStream[EmbQuery]
      val loaded = graft.api.Graft.loadAnnIndex(spark, saveDir)
      val q =
        if (store) loaded.servePrunedStore(stream.toDS(), saveDir) { b =>
          hits.synchronized { hits ++= hitTuples(b.collect().toSeq) }
        }
        else loaded.servePruned(stream.toDS(), s"$saveDir/assigned") { b =>
          hits.synchronized { hits ++= hitTuples(b.collect().toSeq) }
        }
      stream.addData(qvecs.toSeq)
      q.processAllAvailable()
      q.stop()
      hits.toSet
    }

    // the store-dir variant excludes every tombstoned id BEFORE any
    // compact, and equals the loaded handle's (masked) batch search
    val masked = served(store = true)
    assert(masked.nonEmpty)
    assert(masked.forall(h => !deleted(h._3)),
      "a tombstoned vector surfaced through servePrunedStore")
    val batch = graft.api.Graft.loadAnnIndex(spark, saveDir)
      .search(emb.filter($"vec_id" < 5)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(masked == batch,
      "servePrunedStore diverged from the masked batch search")

    // the raw-path caveat is real: before compact the raw assigned
    // table still holds the rows (the documented reason the store-dir
    // variant exists)
    val raw = served(store = false)
    assert(raw.exists(h => deleted(h._3)),
      "expected the raw path to still see tombstoned rows pre-compact")

    // after compact both paths agree
    graft.api.Graft.compactIndex(spark, saveDir)
    assert(served(store = false) == masked)
    assert(served(store = true) == masked)
  }

  test("streaming probe ties go to the LOWEST cell, like batch IvfIndex.search") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(64)(r.nextGaussian().toFloat)
    }
    // labels 0 and 1 hold the same two vectors, so cells 0 and 1 have
    // bit-identical centroids: every corpus row assigns to cell 0 (the
    // lowest), and a query near them ties between cells 0 and 1 — a
    // 1-probe that broke the tie toward cell 1 would find no rows
    val corpus = Seq((0L, vec(1), 0), (1L, vec(2), 0), (2L, vec(1), 1),
        (3L, vec(2), 1), (4L, vec(3), 2), (5L, vec(4), 2))
      .toDF("vec_id", "embedding", "label")
    val idx = graft.api.Graft.annIndex(corpus)
    val ts = Timestamp.valueOf("2026-01-01 09:00:00")
    val queries = Seq(EmbQuery(100L, ts, vec(1)), EmbQuery(101L, ts, vec(2)))

    val stream = MemoryStream[EmbQuery]
    val q = idx.serve(stream.toDS(), nprobe = 1)
      .writeStream.format("memory").queryName("ann_hits_tie")
      .outputMode(OutputMode.Append())
      .start()
    stream.addData(queries)
    q.processAllAvailable()
    q.stop()

    val streamed = hitTuples(spark.table("ann_hits_tie").collect().toSeq)
    val batch = hitTuples(idx.search(queries.map(e => (e.query_id,
        e.embedding)).toDF("vec_id", "embedding"), probes = 1)
      .collect().toSeq)
    assert(batch.size == 6, s"batch must probe the populated cell 0: $batch")
    assert(streamed == batch,
      s"streaming tie-break diverged from batch: " +
        s"onlyStream=${streamed -- batch} onlyBatch=${batch -- streamed}")
  }

  test("appendStream and IVF-PQ serve use the handle's centroid snapshot after the training directory grew") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ts = Timestamp.valueOf("2026-01-01 09:00:00")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    // the % 7 split (IVF-PQ's codebook seed needs the % 125 rows)
    val base = emb.filter($"vec_id" % 7 =!= 0)
    val grown = emb.filter($"vec_id" % 7 === 0 && $"vec_id" % 2 === 0)
      .withColumn("label", ($"label" + 1) % 3)
    val arrivals = emb.filter($"vec_id" % 7 === 0 && $"vec_id" % 2 === 1)
      .select("vec_id", "embedding")
    val src = java.nio.file.Files.createTempDirectory("graft_snapshot")
      .toFile.getAbsolutePath + "/corpus"
    base.write.parquet(src)
    // a cached training frame over a directory that keeps receiving
    // data: refreshByPath re-lists it, so re-deriving centroids from
    // it would now average rows the handles were never trained on
    val train = spark.read.parquet(src).cache()
    try {
      val ivf = graft.api.Graft.annIndex(train)
      val ivfPq = graft.api.Graft.ivfPqIndex(train)
      grown.write.mode("append").parquet(src)
      spark.catalog.refreshByPath(src)

      val appended = scala.collection.mutable.Set[(Long, Int)]()
      val arrivalStream = MemoryStream[EmbStreams.EmbArrival]
      val aq = ivf.appendStream(arrivalStream.toDS()) { a =>
        val rows = a.collect().map(r =>
          (r.getAs[Long]("vec_id"), r.getAs[Int]("cell")))
        appended.synchronized { appended ++= rows }
      }
      arrivalStream.addData(arrivals.collect().toSeq.map(r =>
        EmbStreams.EmbArrival(r.getLong(0), ts, r.getSeq[Float](1))))
      aq.processAllAvailable()
      aq.stop()
      val expected = ivf.append(arrivals).assigned
        .join(arrivals.select("vec_id"), Seq("vec_id"), "left_semi")
        .select("vec_id", "cell").as[(Long, Int)].collect().toSet
      assert(expected.nonEmpty && appended.toSet == expected,
        s"appendStream diverged from append: " +
          s"onlyStream=${(appended.toSet -- expected).take(5)} " +
          s"onlyBatch=${(expected -- appended).take(5)}")

      val served = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
      val queryStream = MemoryStream[EmbQuery]
      val sq = ivfPq.serve(queryStream.toDS()) { b =>
        val rows = b.collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("rnk"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("approx_cos")))
        served.synchronized { served ++= rows }
      }
      queryStream.addData(emb.filter($"vec_id" < 5)
        .select("vec_id", "embedding").collect().toSeq
        .map(r => EmbQuery(r.getLong(0), ts, r.getSeq[Float](1))))
      sq.processAllAvailable()
      sq.stop()
      val searched = ivfPq.search(emb.filter($"vec_id" < 5)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(searched.nonEmpty && served.toSet == searched,
        s"IVF-PQ serve diverged from search: " +
          s"onlyStream=${(served.toSet -- searched).take(5)} " +
          s"onlyBatch=${(searched -- served).take(5)}")
    } finally train.unpersist()
  }
}
