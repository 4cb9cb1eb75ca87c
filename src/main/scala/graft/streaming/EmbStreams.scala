package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.GraftFunctions.cosine_similarity

/** Streaming vector-search serving — the deployment shape of the batch
  * ANN operators (e05's IVF index queried by an unbounded stream of
  * embeddings, the way a retrieval service sees queries one at a time
  * rather than as a batch column).
  */
object EmbStreams {

  final case class EmbQuery(query_id: Long, ts: Timestamp,
                            embedding: Seq[Float])
  final case class AnnHit(query_id: Long, rank: Long, neighbor_id: Long,
                          cos: Double)

  /** Idempotent-ingest guard for at-least-once upstreams: a retried /
    * re-delivered query (same `query_id` re-arriving within the
    * watermark horizon) is served ONCE. Built on Spark's
    * `dropDuplicatesWithinWatermark`, so the dedup state is evicted as
    * the `ts` watermark advances — state is O(queries in horizon), not
    * O(queries ever). Compose with [[ivfServePruned]] (whose serving
    * runs batch-side in foreachBatch) so the streaming plan carries
    * exactly one stateful operator.
    */
  def dedupWithinWatermark(queries: Dataset[EmbQuery],
                           horizon: String = "10 minutes"): Dataset[EmbQuery] =
    queries.withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("query_id")

  /** Serve an unbounded query stream against a STATIC IVF index (the
    * cell-assigned corpus + driver-pulled centroids from
    * [[graft.operators.SimilarityQueries.ivfIndex]] — the same
    * building blocks the e05 gate verifies, so serving searches the
    * gated index).
    *
    * Plan shape: cell probing is the batch search's own projection
    * ([[graft.operators.SimilarityQueries.probeCells]] — the ≤ #cells
    * centroids ride as literals and each query explodes into its
    * `nprobe` best cells; no window, which streams cannot run; ties on
    * centroid cosine go to the LOWEST cell, as in batch `search`) —
    * then ONE stream-static equi-join on `cell` scores the query
    * against its probed cells only, and a per-query group emits the
    * exact top-k. State: none retained (NoTimeout, state never set) —
    * each query's candidates arrive in its own micro-batch, so the
    * stateful operator is just a per-group top-k pass. At scale the
    * static side is the corpus BUCKETED by cell, so each micro-batch's
    * join touches only the probed cells' buckets; per-query work is
    * O(corpus × nprobe / #cells), the same bound the batch gate
    * certifies. Agreement with batch e05 on the same query set is
    * spec-proven (EmbStreamsSpec), including the shared
    * half-up 6-decimal cosine rounding.
    */
  def ivfServe(queries: Dataset[EmbQuery], assigned: DataFrame,
               centroids: Seq[(Int, Array[Float])],
               nprobe: Int = 2, k: Int = 3): Dataset[AnnHit] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val probes = graft.operators.SimilarityQueries.probeCells(
      queries.toDF().select(col("query_id"), col("embedding").as("q_emb")),
      centroids, nprobe)
    // EXPLICIT broadcast of the per-batch probe side: the micro-batch
    // planner has no stats for a MicroBatchScan, so without the hint it
    // falls back to a sort-merge join that re-shuffles the corpus every
    // trigger (EmbStreamsSpec asserts the shape)
    val scored = broadcast(probes)
      .join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("q_emb"), col("embedding")).as("cos"))
      .as[(Long, Long, Double)]
    rankGroups(scored, k)(AnnHit)
  }

  /** The stream servers' per-query top-k: (query_id, id, score) rows
    * grouped by query, each group ranked by
    * [[graft.operators.Ranking.topKOfGroup]] — the batch ranking rule
    * (score DESC, id ASC, 6-dp half-up), since a stream cannot run the
    * window. State: none retained (NoTimeout, state never set) — each
    * query's candidates arrive in its own micro-batch, so the stateful
    * operator is just a per-group top-k pass.
    */
  private def rankGroups[H: org.apache.spark.sql.Encoder](
      scored: Dataset[(Long, Long, Double)], k: Int)
      (hit: (Long, Long, Long, Double) => H): Dataset[H] = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, H](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (qid: Long, rows: Iterator[(Long, Long, Double)], _) =>
          graft.operators.Ranking.topKOfGroup(rows.map(r => (r._2, r._3)), k)
            .map { case (rank, id, score) => hit(qid, rank, id, score) }
      }
  }

  final case class PqHit(query_id: Long, rnk: Long, vec_id: Long,
                         approx_ip: Double)

  /** Serve an unbounded query stream against the STATIC PQ index (the
    * stored 4-byte codes + driver-held codebooks from
    * [[graft.api.Graft.pqIndex]] — the e09-gated building blocks, so
    * serving searches the gated index) — the compressed-domain sibling
    * of [[ivfServe]], completing the streaming serving matrix (IVF:
    * ivfServe; IVF pruned: ivfServePruned; filtered: the e24 semi-join
    * over ivfServe's frame; PQ: this).
    *
    * Plan shape: each micro-batch computes its queries' ADC lookup
    * tables in one projection (the SHARED
    * [[graft.operators.SimilarityQueries.pqLuts]] — stream and batch
    * score identically by construction), broadcasts them (the
    * micro-batch planner has no stats for a MicroBatchScan — without
    * the hint the codes side would sort-merge-shuffle every trigger),
    * joins the code table ONCE (4 `element_at`s per candidate — codes
    * are read, raw vectors never), and a per-query group emits the
    * exact top-k with the batch's ordering and 6-decimal half-up
    * rounding. State: none retained (NoTimeout, state never set).
    * Self-matches are included — e09's protocol, so
    * EmbStreamsSpec can assert stream ≡ batch on the gate's own query
    * ids. At 100 TB the static side is 4 bytes/vector: the entire
    * serving read is the code table, the memory-compression deployment
    * PQ exists for.
    */
  def pqServe(queries: Dataset[EmbQuery], codes: DataFrame,
              codebooks: Array[Array[Array[Double]]], k: Int = 3)
      : Dataset[PqHit] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val luts = graft.operators.SimilarityQueries.pqLuts(
      queries.toDF().select(col("query_id"), col("embedding").as("q_emb")),
      codebooks)
    val scored = broadcast(luts)
      .join(codes)
      .withColumn("approx_ip",
        graft.operators.SimilarityQueries.pqAdcScore(codebooks.length))
      .select(col("query_id"), col("vec_id"), col("approx_ip"))
      .as[(Long, Long, Double)]
    rankGroups(scored, k)(PqHit)
  }

  /** Serving with PER-BATCH PARTITION PRUNING — the 100 TB I/O shape.
    * The corpus lives on disk PARTITIONED BY `cell` (hive layout,
    * `write.partitionBy("cell")`); each micro-batch routes its queries
    * (the batch probe, [[graft.operators.SimilarityQueries.probeCells]]),
    * pulls the ≤ nprobe × #queries probed cell ids to the driver (ints
    * — the only driver-side collect), and plans a fresh batch-side read of ONLY those cells:
    * `cell isin probedCells` is a partition filter, so Spark lists and
    * reads just the probed directories. Per batch the corpus I/O is
    * O(corpus × nprobe / #cells) FILES, not merely rows — the claim
    * the continuous-plan variant ([[ivfServe]]) cannot make, since its
    * static side is fixed at plan time. Scoring/ranking/rounding is
    * the batch engine's own [[graft.operators.SimilarityQueries
    * .probeAndRank]] (the e05-gated code path), so serving cannot
    * drift from the gate. `onBatch` receives each batch's hits
    * (query_id, rank, neighbor_id, cos); the returned query is
    * started and must be stopped by the caller.
    */
  def ivfServePruned(queries: Dataset[EmbQuery], corpusDir: String,
                     centroids: Seq[(Int, Array[Float])],
                     nprobe: Int = 2, k: Int = 3,
                     tombstones: Option[DataFrame] = None)
                    (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[EmbQuery], _: Long) =>
        servePrunedBatch(batch, corpusDir, centroids, nprobe, k,
          tombstones)(onBatch)
      }
      .start()

  /** One pruned-serving micro-batch, shared by [[ivfServePruned]] and
    * [[ivfServeCurrent]]: probe, pull the probed cell ids, read only
    * those cells of `corpusDir` minus `tombstones`, and hand the
    * ranked hits to `onHits` (while the cached probes are live).
    */
  private def servePrunedBatch(batch: Dataset[EmbQuery], corpusDir: String,
                               centroids: Seq[(Int, Array[Float])],
                               nprobe: Int, k: Int,
                               tombstones: Option[DataFrame])
                              (onHits: DataFrame => Unit): Unit = {
    val probes = graft.operators.SimilarityQueries.probeCells(
      batch.toDF().select(col("query_id"), col("embedding").as("q_emb")),
      centroids, nprobe).cache()
    try {
      val cells = probes.select(col("cell")).distinct()
        .collect().map(_.getInt(0))
      if (cells.nonEmpty) {
        val scanned = batch.sparkSession.read.parquet(corpusDir)
          .where(col("cell").isin(cells.map(Integer.valueOf): _*))
          .select(col("vec_id"), col("embedding"), col("cell"))
        // tombstone mask AFTER the partition filter: the broadcast
        // anti-join probes only the already-pruned cells' rows, so
        // deletes cost one in-row hash probe, never a wider scan
        val corpus = tombstones.fold(scanned)(t => scanned.join(
          broadcast(t.select(col("vec_id"))), Seq("vec_id"), "left_anti"))
        onHits(graft.operators.SimilarityQueries
          .probeAndRank(corpus, probes, k))
      }
    } finally probes.unpersist()
  }

  /** GENERATION-AWARE pruned serving — [[ivfServePruned]] bound to a
    * blue/green [[graft.sources.IndexStore.publishGeneration]] ROOT
    * instead of one frozen directory: every micro-batch re-resolves
    * the CURRENT generation (one filesystem listing — cheap at any
    * scale) and serves from it, so a retrain + publish flips a LIVE
    * serving fleet on its very next batch with no restart — the read
    * half of the blue/green seam. Each batch resolves exactly ONCE,
    * so no batch can mix generations by construction; the per-
    * generation artifacts (centroid literals, the eager tombstone
    * snapshot — [[graft.api.Graft.IvfIndex.servePrunedStore]]'s
    * semantics) are cached and re-pulled only when the generation
    * number changes, so steady-state batches cost exactly what the
    * fixed-directory path costs plus the listing. `onBatch` receives
    * (generation, hits). Vacuum old generations only after the
    * stream has flipped past them ([[graft.sources.IndexStore
    * .vacuumGenerations]]'s standard caveat).
    */
  def ivfServeCurrent(queries: Dataset[EmbQuery], root: String,
                      nprobe: Int = 2, k: Int = 3)
                     (onBatch: (Int, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // open each generation through the store loader (kind check +
    // tombstone-masking contract), pull the tiny centroid table and the
    // tombstone snapshot (fenced against spark.graft.maxTombstoneSnapshot
    // — see [[graft.sources.IndexStore.tombstoneSnapshot]]) once
    val current = new graft.sources.IndexStore.GenerationCache(root,
      (spark, dir) => (dir,
        graft.operators.SimilarityQueries.pullCentroids(
          graft.sources.IndexStore.loadIvf(spark, dir)._2),
        graft.sources.IndexStore.tombstoneSnapshot(spark, dir)))
    queries.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[EmbQuery], _: Long) =>
        val (g, (d, cents, snap)) = current.resolve(batch.sparkSession)
        servePrunedBatch(batch, s"$d/assigned", cents, nprobe, k, snap)(
          onBatch(g, _))
      }
      .start()
  }

  final case class EmbArrival(vec_id: Long, ts: Timestamp,
                              embedding: Seq[Float])

  /** AT-INGEST index append — e26 as a stream, the serving side's
    * write path: each micro-batch of ARRIVING corpus vectors is
    * assigned into the trained cells with the exact gated projection
    * ([[graft.operators.SimilarityQueries.assignCellsPulled]] over the
    * handle's pulled `centroids` snapshot — shared code, so stream and
    * batch append identically by construction; the trained centroids
    * stay immutable, [[graft.api.Graft.IvfIndex.append]]'s contract).
    * `onBatch` receives the assigned (vec_id, embedding, cell) rows to
    * upsert into the serving store the [[ivfServe]]/[[ivfServePruned]]
    * readers scan. No stream state, no join, no shuffle per batch.
    * EmbStreamsSpec proves the union of micro-batch outputs equals the
    * batch assignment of the same arrivals.
    */
  def ivfAppend(arrivals: Dataset[EmbArrival],
                centroids: Seq[(Int, Array[Float])])
               (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    arrivals.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[EmbArrival], _: Long) =>
        onBatch(graft.operators.SimilarityQueries.assignCellsPulled(
          batch.toDF(), centroids))
      }
      .start()

  /** [[ivfAppend]] writing INTO the saved [[graft.sources.IndexStore]]
    * layout — streaming ingest made durable: each micro-batch is
    * assigned with the gated kernel and parquet-appended to
    * `dir/assigned` under the store's single-writer lock, so a
    * restarted JVM's `loadAnnIndex(dir)` serves everything ingested
    * so far. With a `checkpointDir` the sink is IDEMPOTENT under
    * replay: a per-batch-id marker file
    * (`<checkpointDir>/_graft_commits/batch-N` — under the CHECKPOINT,
    * because batch ids are scoped to it: a later ingest into the same
    * index with a fresh checkpoint restarts at batch 0 and must not
    * skip on a previous run's markers) is written after the append,
    * and a redelivered batch id is skipped — the standard foreachBatch
    * exactly-once recipe; the crash window between append and marker
    * can still duplicate that one batch (the non-transactional-sink
    * caveat — run [[dedupWithinWatermark]] upstream if arrivals may
    * repeat). Without a checkpoint, batch ids restart at 0 every run,
    * so markers are not consulted (a fresh run must not skip real
    * data).
    */
  def ivfAppendDurable(arrivals: Dataset[EmbArrival],
                       centroids: Seq[(Int, Array[Float])], dir: String,
                       checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    durableIngest(arrivals, checkpointDir) { batch =>
      graft.sources.IndexStore.appendIvf(dir,
        graft.operators.SimilarityQueries.assignCellsPulled(
          batch.toDF(), centroids))
    }

  /** [[ivfAppendDurable]]'s contract for the compressed family: each
    * micro-batch encodes against the FROZEN codebooks (the gated
    * `pqEncode` kernel) and appends codes + raw rerank vectors to the
    * saved PQ layout. Same marker-file idempotency.
    */
  def pqAppendDurable(arrivals: Dataset[EmbArrival],
                      codebooks: Array[Array[Array[Double]]], dir: String,
                      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    durableIngest(arrivals, checkpointDir) { batch =>
      val vecs = batch.toDF().select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      graft.sources.IndexStore.appendPq(dir,
        graft.operators.SimilarityQueries.pqEncode(vecs, codebooks), vecs)
    }

  /** [[ivfAppendDurable]]'s contract for the composite family: each
    * micro-batch encodes against the frozen coarse centroid snapshot
    * + residual codebooks (the gated `ivfPqEncode` kernel) and appends
    * into the saved cell-partitioned code table. Same marker-file
    * idempotency.
    */
  def ivfPqAppendDurable(arrivals: Dataset[EmbArrival],
                         centroids: Seq[(Int, Array[Float])],
                         codebooks: Array[Array[Array[Double]]],
                         dir: String,
                         checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    durableIngest(arrivals, checkpointDir) { batch =>
      graft.sources.IndexStore.appendIvfPq(dir,
        graft.operators.SimilarityQueries.ivfPqEncode(
          batch.toDF().select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")),
          centroids, codebooks))
    }

  /** RETENTION for the commit markers — without it, `_graft_commits/`
    * accrues one empty file per micro-batch forever (a year of 10 s
    * triggers ≈ 3M files). Only RECENT markers matter for replay
    * idempotency: after a restart, Spark redelivers at most the last
    * un-committed batch(es) from the checkpoint's own offset log —
    * batch ids far in the past can never be redelivered, so their
    * markers are dead weight. Keep the newest
    * `spark.graft.commitMarkerKeep` (default 20 — orders of magnitude
    * above any real redelivery window; 0 disables the sweep). One
    * ≤ keep+1-entry directory listing per batch at steady state.
    */
  private[graft] def sweepMarkers(spark: org.apache.spark.sql.SparkSession,
                                  cp: String, batchId: Long): Unit = {
    val keep = spark.conf.getOption("spark.graft.commitMarkerKeep")
      .map(_.toLong).getOrElse(20L)
    if (keep > 0) {
      val dir = new org.apache.hadoop.fs.Path(s"$cp/_graft_commits")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir))
        fs.listStatus(dir).foreach { s =>
          s.getPath.getName.stripPrefix("batch-").toLongOption
            .filter(_ <= batchId - keep)
            .foreach(_ => fs.delete(s.getPath, false))
        }
    }
  }

  /** Shared durable-ingest foreachBatch shell: append under the
    * store's single-writer lock, with per-batch-id marker idempotency
    * when a checkpoint makes batch ids stable across restarts (see
    * [[ivfAppendDurable]]'s scaladoc for the crash-window caveat).
    *
    * UPGRADE NOTE (marker location change): markers moved from the
    * index dir (`<dir>/_stream_commits/`) to the checkpoint
    * (`<cp>/_graft_commits/`) so their lifetime is scoped to the
    * checkpoint's batch-id sequence. A stream restarted from a
    * checkpoint created BEFORE that change ignores its old markers
    * and may re-append its last committed batch(es) ONCE — a one-time
    * duplicate-batch risk on upgrade, remedied like any crashed
    * append (tombstone the duplicate ids + compact). New checkpoints
    * are unaffected; no deployed pre-change streams exist in this
    * repo's test surface.
    */
  private[graft] def durableIngest[T](arrivals: Dataset[T],
                                      checkpointDir: Option[String])
                                     (append: Dataset[T] => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = arrivals.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        // markers live UNDER THE CHECKPOINT, not the index dir: batch
        // ids are scoped to a checkpoint, so a later ingest into the
        // same index with a NEW checkpoint restarts at batch 0 and
        // must not find (and silently skip on) a previous run's
        // markers. The checkpoint and its markers share one lifetime
        // by construction.
        checkpointDir match {
          case None => append(batch)
          case Some(cp) =>
            val spark = batch.sparkSession
            val marker = new org.apache.hadoop.fs.Path(
              s"$cp/_graft_commits/batch-$batchId")
            val fs = marker.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (!fs.exists(marker)) {
              append(batch)
              fs.create(marker, true).close()
            }
            sweepMarkers(spark, cp, batchId)
        }
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** AT-INGEST drift monitor — e28 as a stream, the re-train trigger
    * firing as arrivals land instead of on a scheduled batch scan:
    * each arriving vector is assigned its cell by the STATELESS batch
    * ranking over the centroid literals
    * ([[graft.operators.SimilarityQueries.rankedCells]], ties to the
    * LOWEST cell, so the running counts agree with batch assignment
    * row-for-row), Spark's streaming aggregation maintains the
    * RUNNING per-cell arrival counts as state (Complete mode — ≤
    * #cells rows of state, constant), and
    * every trigger emits a full drift report through the exact gated
    * seam ([[graft.operators.SimilarityQueries .cellDriftFromCounts]])
    * against the static `assigned` base. `onReport` receives the e28
    * report shape (cell, n_base, n_new, ppm_base, ppm_new, drift_ppm)
    * covering ALL arrivals seen so far — fire the re-train when
    * Σ drift_ppm / 2 (or one hot cell) crosses budget. EmbStreamsSpec
    * proves the final report equals the batch e28 drift of the same
    * arrival set.
    *
    * `checkpointDir`: pass a durable location to make the monitor
    * RESTARTABLE — the running per-cell counts live in Spark's state
    * store under the checkpoint, so a stopped (or crashed) monitor
    * restarted on the same dir RESUMES its counts without
    * reprocessing committed arrivals (EmbStreamsSpec proves the
    * post-restart report equals batch e28 over ALL arrivals, old and
    * new). None (the default) uses a temp checkpoint that dies with
    * the query — fine for tests, not for the production trigger.
    */
  def driftMonitor(arrivals: Dataset[EmbArrival], assigned: DataFrame,
                   centroids: Seq[(Int, Array[Float])],
                   checkpointDir: Option[String] = None)
                  (onReport: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val counts = arrivals.toDF()
      .select(graft.operators.SimilarityQueries
        .rankedCells(centroids, col("embedding")).getItem(0).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_new"))
    val w = counts.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val cells = centroids.map(_._1).toDF("cell")
        // eager localCheckpoint materializes EVERY partition of the
        // stateful aggregate (the state-store commit contract for
        // foreachBatch over a Complete-mode stream) and detaches the
        // report plan from the per-trigger source
        val counts = batch.localCheckpoint()
        // an empty trigger (no arrivals yet) has no defined shares —
        // cellDriftFromCounts raises on a zero total by contract, so
        // skip the report rather than fail the stream
        if (!counts.isEmpty)
          onReport(graft.operators.SimilarityQueries
            .cellDriftFromCounts(assigned, cells, counts))
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** WINDOWED drift monitor — [[driftMonitor]] watching RECENT drift
    * instead of all-of-history: the cumulative monitor's running
    * counts converge (a week of on-distribution traffic drowns a
    * drifted last hour), so the production re-train trigger compares
    * the base against a sliding event-time window of arrivals.
    *
    * Shape: the shared batch ranking
    * ([[graft.operators.SimilarityQueries.rankedCells]]) assigns each
    * arrival its cell (stateless, batch tie-break), then Spark's
    * watermarked windowed aggregation maintains per-(window, cell)
    * counts —
    * Update mode, so each trigger emits only the (window, cell) rows
    * that changed, and the watermark EVICTS closed windows' state
    * (the unbounded-accumulation gap of Complete mode, fixed; a late
    * arrival past `latenessMinutes` is dropped, never resurrects a
    * closed window). A driver-side upsert store (≤ active-windows ×
    * #cells integer rows — the same tiny bound as the streaming
    * state) folds the updates, prunes windows the watermark has
    * closed, and per trigger emits one e28-shaped report PER TOUCHED
    * WINDOW through the exact gated seam
    * ([[graft.operators.SimilarityQueries.cellDriftFromCounts]]) —
    * `onReport(windowStart, windowEnd, report)`, where the report
    * covers exactly that window's arrivals (EmbStreamsSpec proves it
    * equals batch e28 drift of precisely the in-window arrival set).
    * Tumbling windows by default; pass `slideMinutes` <
    * `windowMinutes` for overlapping windows (an arrival then counts
    * in every window covering it, the standard sliding semantics).
    *
    * `checkpointDir` makes the windowed monitor RESTARTABLE like
    * [[driftMonitor]], with one extra wrinkle this method handles:
    * Spark restores the per-(window, cell) aggregation state, but
    * Update mode re-emits a (window, cell) total only when NEW data
    * touches it — so a naively restarted driver-side fold would drop
    * the cells counted before the restart from its reports. On start
    * against a previously-committed checkpoint, the fold is therefore
    * SEEDED from the checkpoint itself via Spark's state-store reader
    * (`spark.read.format("statestore")` — the open windows' totals,
    * exactly what the pruned fold held at stop). EmbStreamsSpec
    * proves a stop/restart straddling one window still reports that
    * window's FULL arrival set.
    */
  def driftMonitorWindowed(arrivals: Dataset[EmbArrival],
                           assigned: DataFrame,
                           centroids: Seq[(Int, Array[Float])],
                           windowMinutes: Int = 10,
                           slideMinutes: Int = 10,
                           latenessMinutes: Int = 0,
                           checkpointDir: Option[String] = None)
                          (onReport: (Timestamp, Timestamp, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val counts = arrivals.toDF()
      .withWatermark("ts", s"$latenessMinutes minutes")
      .select(col("ts"), graft.operators.SimilarityQueries
        .rankedCells(centroids, col("embedding")).getItem(0).as("cell"))
      .groupBy(
        window(col("ts"), s"$windowMinutes minutes",
          s"$slideMinutes minutes"),
        col("cell"))
      .agg(count(lit(1)).as("n_new"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("cell"), col("n_new"))

    // (window -> cell -> running count). Update-mode rows carry the
    // NEW TOTAL for their (window, cell), so folding is a put, not an
    // add. Bounded: the watermark closes windows, and closed windows
    // are pruned below.
    val store = scala.collection.mutable.Map
      .empty[(Timestamp, Timestamp), scala.collection.mutable.Map[Int, Long]]

    // restart seed: the checkpoint's state store holds exactly the
    // open windows' (window, cell) totals the fold had at stop
    checkpointDir.foreach { cp =>
      val spark = arrivals.sparkSession
      val commits = new org.apache.hadoop.fs.Path(s"$cp/commits")
      val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = fs.exists(commits) &&
        fs.listStatus(commits).exists(s => !s.getPath.getName.startsWith("."))
      if (committed) {
        spark.read.format("statestore").load(cp)
          .select(col("key.window.start"), col("key.window.end"),
            col("key.cell"), col("value"))
          .collect()
          .foreach { r =>
            store
              .getOrElseUpdate((r.getTimestamp(0), r.getTimestamp(1)),
                scala.collection.mutable.Map.empty)
              // the count(1) buffer is the value struct's single field
              .put(r.getInt(2), r.getStruct(3).getLong(0))
          }
      }
    }

    val w0 = counts.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // collect materializes every partition (the state-store commit
        // contract for foreachBatch over a stateful aggregate); the
        // batch is ≤ touched-windows × #cells tiny rows by construction
        val rows = batch.collect()
        if (rows.nonEmpty) {
          val cells = centroids.map(_._1).toDF("cell")
          val reports = store.synchronized {
            val touched = rows.map { r =>
              val w = (r.getTimestamp(0), r.getTimestamp(1))
              store.getOrElseUpdate(w, scala.collection.mutable.Map.empty)
                .put(r.getInt(2), r.getLong(3))
              w
            }.distinct
            // prune windows the watermark has provably closed: with
            // watermark = max(event ts) − lateness and every event
            // landing only in windows ending within windowMinutes of
            // its ts, any window ending at or before
            // maxEnd − window − lateness can never update again
            val maxEnd = store.keys.map(_._2.getTime).max
            val closed = maxEnd -
              (windowMinutes + latenessMinutes) * 60000L
            store.filterInPlace((w, _) => w._2.getTime > closed)
            touched.toSeq.flatMap(w => store.get(w).map { c =>
              (w, c.toSeq)
            })
          }
          reports.foreach { case ((ws, we), cellCounts) =>
            onReport(ws, we, graft.operators.SimilarityQueries
              .cellDriftFromCounts(assigned, cells,
                cellCounts.toDF("cell", "n_new")))
          }
        }
      }
    checkpointDir.fold(w0)(d => w0.option("checkpointLocation", d)).start()
  }

  /** AT-INGEST PQ code drift — e31 as a stream, [[driftMonitor]]'s
    * pattern for the compressed family: each arriving vector's
    * per-subspace codes come from a STATELESS projection against the
    * frozen codebook literals (EXACTLY the gated
    * [[graft.operators.SimilarityQueries.pqEncode]] expressions, so
    * the running counts agree with the batch kernel row-for-row),
    * Spark's streaming aggregation maintains the RUNNING per-(m, code)
    * counts as state (Complete mode — ≤ subspaces × codebook-size
    * rows, constant), and every trigger emits a full e31-shaped
    * report through the exact gated seam
    * ([[graft.operators.SimilarityQueries.pqCodeDriftFromCounts]])
    * against the stored `codes` table. `onReport` receives (m, code,
    * n_base, n_new, ppm_base, ppm_new, drift_ppm) covering ALL
    * arrivals so far — fire the re-train when a subspace's
    * Σ drift_ppm / 2 crosses budget. EmbStreamsSpec proves the final
    * report equals the batch e31 drift of the same arrival set.
    *
    * `checkpointDir`: as on [[driftMonitor]] — a durable checkpoint
    * makes the running per-(m, code) state-store counts survive a
    * query restart without reprocessing committed arrivals.
    */
  def pqDriftMonitor(arrivals: Dataset[EmbArrival], codes: DataFrame,
                     codebooks: Array[Array[Array[Double]]],
                     checkpointDir: Option[String] = None)
                    (onReport: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val counts = graft.operators.SimilarityQueries
      .pqCodeUnpivot(
        graft.operators.SimilarityQueries.pqEncode(
          arrivals.toDF().select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")),
          codebooks),
        codebooks.length)
      .groupBy(col("m"), col("code")).agg(count(lit(1)).as("n_new"))
    val w = counts.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // eager localCheckpoint materializes EVERY partition of the
        // stateful aggregate (the state-store commit contract) and
        // detaches the report plan from the per-trigger source
        val c = batch.localCheckpoint()
        if (!c.isEmpty)
          onReport(graft.operators.SimilarityQueries
            .pqCodeDriftFromCounts(codes, codebooks, c))
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** AT-INGEST IVF-PQ RESIDUAL-code drift — e34 as a stream, the
    * composite family's second monitoring axis at ingest (the coarse
    * axis streams via [[driftMonitor]] over the stored cells): each
    * micro-batch of arrivals encodes through the EXACT e29/e34-gated
    * kernel ([[graft.operators.SimilarityQueries.ivfPqEncode]] — cell
    * assign, residual, per-subspace argmin against the frozen
    * codebooks, run batch-side inside foreachBatch, so the stream
    * cannot diverge from the gate by construction), a driver-side fold
    * keeps the RUNNING per-(m, code)
    * counts (≤ subspaces × codebook-size integers — the same bound
    * the Complete-mode monitors hold as stream state), and every
    * non-empty trigger reports through the gated
    * [[graft.operators.SimilarityQueries.pqCodeDriftFromCounts]] seam
    * against the stored composite code table. EmbStreamsSpec proves
    * the final report equals the batch e34 drift of the same
    * arrivals. Stop the returned query when done.
    */
  def ivfPqResidualDriftMonitor(arrivals: Dataset[EmbArrival],
                                codes: DataFrame,
                                centroids: Seq[(Int, Array[Float])],
                                codebooks: Array[Array[Array[Double]]])
                               (onReport: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val running = scala.collection.mutable.Map.empty[(Int, Int), Long]
    arrivals.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[EmbArrival], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val counts = graft.operators.SimilarityQueries
          .pqCodeUnpivot(
            graft.operators.SimilarityQueries.ivfPqEncode(
              batch.toDF().select(col("vec_id"),
                col("embedding").cast("array<float>").as("embedding")),
              centroids, codebooks),
            codebooks.length)
          .groupBy(col("m"), col("code")).agg(count(lit(1)).as("n"))
          .collect()
        if (counts.nonEmpty) {
          val snapshot = running.synchronized {
            counts.foreach { r =>
              val key = (r.getInt(0), r.getInt(1))
              running(key) = running.getOrElse(key, 0L) + r.getLong(2)
            }
            running.toSeq
          }
          onReport(graft.operators.SimilarityQueries
            .pqCodeDriftFromCounts(codes, codebooks,
              snapshot.map { case ((m, c), n) => (m, c, n) }
                .toDF("m", "code", "n_new")))
        }
      }
      .start()
  }

  /** Serve an unbounded query stream against the STATIC IVF-PQ index —
    * the composite family's serving surface, completing the matrix
    * (IVF: [[ivfServe]]; IVF pruned: [[ivfServePruned]]; PQ:
    * [[pqServe]]; IVF-PQ: this). The [[ivfServePruned]] shape: each
    * micro-batch's queries run through the EXACT e18-gated batch
    * kernel ([[graft.operators.SimilarityQueries.ivfPqSearch]] — cell
    * probing, residual ADC tables, approximate-cosine ranking,
    * 6-decimal rounding, self excluded), so serving equals the gate by
    * construction rather than by a re-implementation's discipline (the
    * kernel's per-query ranking window runs batch-side inside
    * foreachBatch, where windows are legal; its partitions are one
    * query's ≤ corpus × nprobe / #cells candidates). Per batch the
    * static read is the code table — cache `codes` first, as
    * a serving deployment would. `onBatch` receives (query_id, rnk,
    * vec_id, approx_cos); the returned query must be stopped by the
    * caller. Stream ≡ batch [[graft.api.Graft.IvfPqIndex.search]] is
    * spec-proven (EmbStreamsSpec).
    */
  def ivfPqServe(queries: Dataset[EmbQuery], codes: DataFrame,
                 centroids: Seq[(Int, Array[Float])],
                 codebooks: Array[Array[Array[Double]]],
                 nprobe: Int = 2, k: Int = 3)
                (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[EmbQuery], _: Long) =>
        onBatch(graft.operators.SimilarityQueries.ivfPqSearch(
          codes, centroids, codebooks,
          batch.toDF().select(col("query_id"),
            col("embedding").cast("array<float>").as("q_emb")),
          nprobe, k))
      }
      .start()
}
