package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Graft

/** SERVING-side scale measurement for the round-12 probe pruning —
  * the companion to [[ScaleBench]], which prices the store lifecycles
  * END-TO-END (build + save + screen, where the build dominates).
  * This main isolates the recurring cost the pruning work targets:
  * the PER-BATCH screen/search against an already-built store, which
  * pre-round-12 scanned the whole stored table every micro-batch
  * (VERDICT r11's one `weak at 100×`).
  *
  * Protocol per store kind (LSH / BM25 / pHash), per scale (x1 = the
  * base dir, xN = the [[ScaleBench.replicate]] replica corpus), per
  * layout (`full` = unbucketed, probeBuckets 0 — the pre-round-12
  * layout; `pruned` = probe-bucketed with the modulus SCALED TO THE
  * CORPUS, nb = 64·scale, the hand-tuned sizing that keeps bucket
  * sizes constant — exactly how ScaleBench already scales d13's
  * bloomBits; `auto` — round 13 — leaves the conf unset so the
  * save-time auto-sizer derives the modulus, proving the pruning
  * ratios hold with NO hand-tuning): build + save + COMPACT the
  * store (one file per
  * partition dir — the maintained serving state), open ONE handle,
  * then time a FIXED SMALL BATCH's screen (min of 3). The batch is
  * pinned to the same replica-0 ids at every scale, so cells compare
  * like-for-like.
  *
  * The claim under test: `full` cells grow ~linearly with the stored
  * corpus (per-batch cost O(index)); `pruned` cells stay ~flat
  * (per-batch cost O(batch's buckets), bucket size held constant by
  * the scaled modulus). The `novel` cell adds the Bloom-prefilter
  * floor: a batch whose band keys the stored sketch rejects touches
  * no stored table at all. Output: ONE JSON line, PARITY.md records
  * the cells.
  */
object ScreenBench {

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 2) args(2).toInt else 10
    val workDir = if (args.length > 1) args(1) else s"/tmp/graft_scale$copies"
    // optional 4th arg: comma-set of modes to run (default all) —
    // re-measuring one mode skips the other modes' store builds
    val modeSet = if (args.length > 3) args(3).split(",").toSet
                  else Set("full", "pruned", "auto")
    val spark = LocalSpark.session(LocalSpark.envCpus(32), "graft-screenbench")

    def present(t: String) =
      new java.io.File(s"$workDir/$t.parquet/_SUCCESS").exists()
    if (!(sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
        present("documents")))
      ScaleBench.replicate(spark, baseDir, workDir, copies,
        Set("documents"))

    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

    def timeMin3(df: => DataFrame): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    // ---- per-screen STORE I/O accounting -------------------------
    // On a box whose page cache holds the whole index, wall-clock is
    // job-latency-bound and cannot show what pruning buys; the 100 TB
    // claim is about BYTES READ, so each cell also reports the files
    // and bytes its screen actually scanned from the store — summed
    // across EVERY action the screen runs (including the kernel's
    // internal candidate pulls), captured by a QueryExecutionListener.
    val seenPlans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = seenPlans.add(qe.executedPlan)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    def storeIO(storeDir: String)(df: => DataFrame): (Long, Long) = {
      // drain pending events from earlier actions
      Thread.sleep(1000); seenPlans.clear()
      df.write.mode("overwrite").format("noop").save()
      // the listener bus is async: wait for the run's events (the
      // noop write alone guarantees at least one), then let
      // stragglers land
      val deadline = System.currentTimeMillis() + 15000
      while (seenPlans.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      Thread.sleep(1500)
      var files = 0L; var bytes = 0L
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit =
        p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => walk(s.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            if (sys.env.contains("SCREENBENCH_DEBUG"))
              System.err.println(s"[scan] ${f.relation.location.rootPaths
                .mkString(",")} files=${f.metrics.get("numFiles")
                .map(_.value)}")
            if (f.relation.location.rootPaths.exists(
                _.toString.contains(storeDir))) {
              files += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
              bytes += f.metrics.get("filesSize").map(_.value).getOrElse(0L)
            }
            f.children.foreach(walk)
          case other => other.children.foreach(walk)
        }
      seenPlans.forEach(walk(_))
      (files, bytes)
    }

    // synthetic 32-bit-word media hashes keyed by doc ids — the pHash
    // SCREEN's cost is the banded scan, not the (already-measured,
    // decode-bound) hashing, so a deterministic hash table is the
    // honest fixture; consecutive-id pairs sit one bit apart so the
    // batch genuinely matches
    def mediaOf(dir: String): DataFrame =
      Tables.documents(spark, dir).select(col("doc_id").as("media_id"))
        .withColumn("lo", expr(
          "xxhash64(media_id div 2) & 4294967295 ^ (media_id % 2)"))
        .withColumn("hi", expr(
          "xxhash64(media_id div 2 + 999) & 4294967295"))

    // total on-disk size of a saved store — the WRITE side of a layout
    // choice (the default denormalized dl repeats doclen per posting
    // row; the honest trade is read-bytes-saved vs store-bytes-grown,
    // so every cell records both)
    def storeMb(dir: String): Double = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength / 1e6
    }
    // the modulus a store was actually written with (manifest-recorded;
    // the `auto` cells report what the auto-sizer picked)
    def storedNb(dir: String): Long =
      spark.read.parquet(s"$dir/manifest")
        .select(col("n_buckets")).head().getLong(0)
    // data files in the store AS SAVED (captured before the compact
    // that collapses them) — the round-14 bucket-aligned-write proof:
    // files ≈ partition dirs, not upstream tasks × dirs
    def partFiles(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }

    val scales = Seq(("x1", baseDir, 1), (s"x$copies", workDir, copies))
    val cells = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, String]]
    def record(cell: String, point: String, secs: Double,
               io: (Long, Long), storeDir: String,
               saveFiles: Long = -1L): Unit = {
      val (files, bytes) = io
      val mb = bytes / 1e6
      val smb = storeMb(storeDir)
      val nb = storedNb(storeDir)
      cells.getOrElseUpdate(cell,
        scala.collection.mutable.LinkedHashMap.empty[String, String])
        .update(point,
          f"""{"s":$secs%.3f,"files":$files,"mb":$mb%.1f,"store_mb":$smb%.1f,"nb":$nb,"save_files":$saveFiles}""")
      System.err.println(
        f"[screenbench] $cell $point = $secs%.3f s, $files files, " +
          f"$mb%.1f MB read, store $smb%.1f MB, nb=$nb, " +
          f"save_files=$saveFiles")
    }

    // warmup
    Tables.documents(spark, baseDir).limit(10).count()

    // the pruned modulus scales with the corpus (constant bucket
    // sizes — the production sizing), capped at 1024 to keep the
    // local-fs partition-dir count sane (a real object store raises
    // the cap, not the design); `auto` leaves the conf UNSET so the
    // save-time auto-sizer picks the modulus from the probed table's
    // row count — the round-13 no-hand-tuning evidence (the cell's
    // `nb` field records what it chose at each scale)
    for ((label, dir, scale) <- scales;
         (mode, nb) <- Seq(("full", Some(0)),
           ("pruned", Some(math.min(64 * scale, 1024))),
           ("auto", None)) if modeSet.contains(mode)) {
      nb match {
        case Some(n) => spark.conf.set("spark.graft.probeBuckets", n.toString)
        case None => spark.conf.unset("spark.graft.probeBuckets")
      }
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val stored = docs.filter(col("doc_id") % 3 =!= 0)
      // 2 replica-0 docs FROM THE STORED SET — identical batch at
      // every scale, 32 band keys (<= 32 of the nb buckets probed),
      // and guaranteed self-matches so the output is never empty
      // (AQE's empty-relation propagation would otherwise drop the
      // scan nodes from the executed plan AND skip the verify scan,
      // making the full path look artificially cheap)
      val batch = docs.filter(col("doc_id") % 3 =!= 0 &&
        col("doc_id") < 3).localCheckpoint()

      // ---- d19: LSH screen ----
      val dL = tmp("screenbench_lsh")
      Graft.lshIndex(stored).save(dL)
      val lshSaveFiles = partFiles(dL)
      Graft.compactIndex(spark, dL)
      val lsh = Graft.loadLshIndex(spark, dL)
      record("d19_screen", s"${label}_$mode",
        timeMin3(lsh.screen(batch)), storeIO(dL)(lsh.screen(batch)), dL,
        lshSaveFiles)
      if (mode != "full") {
        // the Bloom-prefilter floor: every band key of a synthetic
        // batch is rejected by the stored sketch -> no store I/O
        // beyond the broadcast sketch itself
        import spark.implicits._
        val novel = (0 until 2).map(i => (90000000L + i,
          (0 until 12).map(t => s"novelzz${i}q$t").mkString(" ")))
          .toDF("doc_id", "text").localCheckpoint()
        record("d19_screen_novel", s"${label}_$mode",
          timeMin3(lsh.screen(novel)), storeIO(dL)(lsh.screen(novel)), dL)
      }

      // ---- e48/e49: BM25 search ----
      val dB = tmp("screenbench_bm25")
      Graft.bm25Index(docs).save(dB)
      val bmSaveFiles = partFiles(dB)
      Graft.compactIndex(spark, dB)
      val bm = Graft.loadBm25Index(spark, dB)
      // one short query (8 terms) — <= 8 of the nb token buckets
      val q = docs.filter(col("doc_id") === 7)
        .select(col("doc_id").as("query_id"),
          expr("array_join(slice(split(text, ' '), 1, 8), ' ')")
            .as("text")).localCheckpoint()
      record("e48_search", s"${label}_$mode",
        timeMin3(bm.searchText(q)), storeIO(dB)(bm.searchText(q)), dB,
        bmSaveFiles)
      // ---- e48_append: the partial df fold priced directly ----
      // a FIXED SMALL batch (50 docs × 8 tokens of replica-0
      // vocabulary, novel ids — a production micro-batch's shape:
      // its vocab is TINY next to the corpus vocab) appends into the
      // stored corpus at every scale: on the bucketed layouts the
      // fold reads/rewrites only the batch tokens' buckets, so the
      // wall and the bytes READ must stay ~flat as the store grows
      // N× — the O(batch vocab) claim measured, not asserted. The
      // cell includes the DEFAULT-ON requireNewIds check (a
      // range-pruned doclen id scan — its cost at x100 is exactly
      // what PARITY needs on record). The `full` mode's whole-table
      // fold prices what the partial fold replaced. save_files =
      // files ONE append added (snapshotted around exactly the
      // storeIO run — the r15 cell diffed across all three appends
      // and recorded ~3x a single append's footprint; ADVICE r15).
      locally {
        val batchOf: Long => DataFrame = off =>
          Tables.documents(spark, baseDir)
            .select(col("doc_id"), col("text"))
            .filter(col("doc_id") % 100 === 0)
            .select(col("doc_id") + lit(off) as "doc_id",
              expr("array_join(slice(split(text, ' '), 1, 8), ' ')")
                .as("text"))
            .localCheckpoint()
        // offsets sit ABOVE every replica id range (idStride × copies
        // tops out at 1e9) so the default id-contract check passes
        val walls = Seq(2000000000L, 2100000000L).map { off =>
          val batch = batchOf(off)
          val t0 = System.nanoTime()
          Graft.loadBm25Index(spark, dB).appendDurable(dB, batch)
          (System.nanoTime() - t0) / 1e9
        }
        val filesBefore = partFiles(dB)
        val io = storeIO(dB)(
          { Graft.loadBm25Index(spark, dB)
              .appendDurable(dB, batchOf(2200000000L))
            spark.emptyDataFrame })
        record("e48_append", s"${label}_$mode", walls.min, io, dB,
          partFiles(dB) - filesBefore)
      }
      if (mode == "pruned") {
        // NORMALIZED layout (the conf-selected side since the round-14
        // denormDl default flip — the main e48 cell now measures the
        // denorm default): same search plus the dl join; the cell
        // pair's store_mb fields ARE the write-amplification trade
        // (dl repeated per posting vs one doclen table)
        val dD = tmp("screenbench_bm25n")
        Graft.bm25Index(docs).save(dD, denormDl = false)
        val dnSaveFiles = partFiles(dD)
        Graft.compactIndex(spark, dD)
        val bmd = Graft.loadBm25Index(spark, dD)
        record("e49_search_normalized", s"${label}_$mode",
          timeMin3(bmd.searchText(q)), storeIO(dD)(bmd.searchText(q)), dD,
          dnSaveFiles)
      }

      // ---- mm10: pHash screen ----
      val media = mediaOf(dir)
      val dP = tmp("screenbench_phash")
      Graft.phashIndex(media.filter(col("media_id") % 2 === 1)).save(dP)
      val phSaveFiles = partFiles(dP)
      Graft.compactIndex(spark, dP)
      val ph = Graft.loadPhashIndex(spark, dP)
      val mBatch = media.filter(col("media_id") % 2 === 0 &&
        col("media_id") < 6).localCheckpoint()
      record("mm10_screen", s"${label}_$mode",
        timeMin3(ph.screen(mBatch)), storeIO(dP)(ph.screen(mBatch)), dP,
        phSaveFiles)
      spark.conf.unset("spark.graft.probeBuckets")
    }

    val qs = cells.map { case (cell, pts) =>
      val inner = pts.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      s""""$cell":$inner"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"screen$copies","base":"$baseDir","nb_full":0,"nb_pruned_per_scale":64,"nb_auto":"manifest-recorded per cell","cells":$qs}""")
    spark.stop()
  }
}
