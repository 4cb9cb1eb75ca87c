package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Durable on-disk layout for the built vector/sketch indexes — the
  * persistence layer that completes the build → persist → serve →
  * append → drift lifecycle (before this, every
  * [[graft.api.Graft.pqIndex]] call re-trained: the append/drift
  * contracts existed but the artifacts they freeze died with the JVM).
  *
  * Layout under `dir` (all parquet — no side formats, so the store
  * reads/writes with nothing but the Spark session it is given). Every
  * kind (ivf, pq, ivfpq, lsh, bm25, phash, bloom) declares its tables
  * ONCE, as a [[StoreKind]] case object: the tables in describe order,
  * the primary table, the vec_id row tables with their partition
  * columns, the frozen artifacts merge value-checks, the bit_or
  * sketch, and the deep checks and heals. Beside the kind's tables
  * every store holds:
  *
  *   - `manifest/`  — ONE row: (kind, version, m_bits, n_buckets),
  *     parsed into a [[StoreKind]] by [[readManifest]] alone. An
  *     unknown kind or a newer version fails every op loudly, and
  *     opening a PQ directory as an IVF index fails instead of
  *     mis-shaping frames.
  *   - `epochs/` — the append-epoch AUDIT LOG: one (seq, op, n_rows,
  *     ts_millis) row per lifecycle op (save/append/compact/merge/
  *     delete/repair/vacuum), with `n_rows` counted from the written
  *     files. See [[Epoch]].
  *   - `tombstones/` — deleted vec_ids ([[delete]]), masked out by
  *     every load until [[compact]] applies and clears them.
  *
  * The big tables (`assigned`/`codes` for the IVF families) are
  * PARTITIONED BY `cell`, so a saved IVF index is directly servable by
  * [[graft.streaming.EmbStreams.ivfServePruned]] (its per-batch `cell
  * isin probed` partition filter prunes at the FILE level); the text
  * and media stores partition by probe buckets (see [[Version]]).
  * Codebooks reassemble driver-side into the
  * `Array[Array[Array[Double]]]` the ADC kernels take; doubles
  * round-trip parquet exactly, so a loaded index scores BIT-FOR-BIT
  * like the freshly trained one (IndexStoreSpec proves it).
  *
  * Writes use overwrite semantics per sub-path (re-saving an appended
  * index over its own directory is the normal refresh cycle). All
  * values round-trip exactly: Long/Int ids, float arrays, double
  * codebooks — parquet is lossless for every stored type, which is
  * what makes the save → load → search ≡ fresh-build → search
  * contract provable rather than approximate.
  *
  * Scale: the only driver-side materialization on load is the
  * codebook table (m × k rows) and the one-row manifest; `assigned`/
  * `codes`/`corpus` stay distributed frames. At 100 TB the save is
  * one partitioned write of data that already exists; the load is
  * metadata-only until an action runs.
  */
object IndexStore {
  import StoreKind._

  /** Bumped only on layout changes; checked on load. Version 2 adds
    * PROBE BUCKETS to the scan-heavy kinds — derived partition
    * columns on the tables a screen/search probes by literal keys
    * (`bb = pmod(hash(bkey), n)` on the LSH band table, `sb` on its
    * signature table, `tb = pmod(hash(tok), n)` on BM25 postings/df,
    * `pb = band·n + pmod(chunk, n)` on a new pHash band table) — so a
    * probe prunes to the matching buckets' FILES instead of scanning
    * the whole stored table per micro-batch, exactly the IVF family's
    * probed-cell pruning. Version-1 directories still LOAD and accept
    * appends/compacts (writers follow the STORED layout, probes simply
    * run unpruned); merging across versions or bucket moduli is
    * refused — rebuild (or re-save a loaded handle) to upgrade.
    */
  val Version = 2

  /** A parsed manifest ([[readManifest]]). `n_buckets` = the
    * probe-bucket modulus the layout was written with (0 =
    * unbucketed: version-1 dirs, or a v2 save under
    * `spark.graft.probeBuckets = 0`). Probers MUST bucket their keys
    * with the same modulus, which is why it lives in the manifest.
    */
  private[sources] final case class Manifest(kind: StoreKind, version: Int,
                                             m_bits: Long, n_buckets: Long)

  /** The save-time probe-bucket modulus: `spark.graft.probeBuckets`
    * overrides when set (0 disables bucketing); UNSET — the default —
    * the modulus is AUTO-SIZED from the probed table's row count
    * ([[autoProbeBuckets]]), so a 100 TB save gets 100 TB pruning
    * granularity without hand-tuning, exactly like d13's bloomBits
    * scaling. `probedRows` is by-name: a conf override never pays the
    * count. The chosen modulus rides in the manifest (probers MUST
    * replay it), so readers and appenders are independent of how it
    * was picked.
    */
  private def probeBucketsFor(spark: SparkSession,
                              probedRows: => Long): Int =
    spark.conf.getOption("spark.graft.probeBuckets")
      .map(_.toInt).getOrElse(autoProbeBuckets(probedRows))

  /** Bucket-count rule: one bucket per ~32k probed-table rows,
    * rounded UP to a power of two, clamped to [16, 4096]. The target
    * is set by the SERVING economics, not storage: a screen reads
    * ≈ (batch's probe keys) × (rows per bucket), so the win over an
    * unbucketed scan is ~corpus/(keys × bucket width) — a modulus
    * near the batch's key count (a 2-doc LSH batch probes 32 band
    * keys) prunes nothing. 32k rows/bucket keeps the x100
    * ScreenBench read within ~2× of the hand-tuned modulus
    * (PARITY's round-13 auto cells) while the floor keeps small
    * stores at the long-tested granularity (every corpus under
    * ~512k band/posting rows sizes to 16 — all test fixtures); the
    * pow2 keeps `pmod(hash(k), n)` uniform under doubling; the cap
    * bounds partition-directory count (4096 dirs is well inside
    * every object store's listing comfort zone — past it, probed
    * FRACTION keeps falling as batches stay fixed while the corpus
    * grows, so the cap costs bucket width only).
    */
  private[sources] def autoProbeBuckets(rows: Long): Int = {
    val target = 32768L
    val raw = math.max(1L, (rows + target - 1) / target)
    val pow = java.lang.Long.highestOneBit(raw)
    val up = if (pow == raw) raw else pow * 2
    math.min(4096L, math.max(16L, up)).toInt
  }

  /** Align a table's SHUFFLE partitioning to its bucket dirs before a
    * `partitionBy` write, so the written file count is ≈ buckets, not
    * upstream-tasks × buckets. Without it every upstream task writes
    * one file into EVERY bucket dir it holds rows for — at 100 TB
    * scale (thousands of tasks × up to 4096 buckets) that is millions
    * of files per save, and it was a measured cost at bench scale too
    * (the e48 ×100 save went 23 s flat → 58 s bucketed purely on
    * small-files overhead — PARITY §round-13 #4). [[compact]] and
    * [[rewriteBm25Layout]] always shuffled this way; this applies the
    * same rule to the save/append paths.
    *
    * Hash-partitioning on the bucket column(s) puts each bucket
    * wholly in one task → ONE file per bucket. That caps a file at
    * (table rows / buckets), which past the 4096-bucket clamp grows
    * with the corpus — so when `estRows` is known (saves compute it
    * for auto-sizing anyway) a WRITE SALT splits each bucket into
    * k = ⌈rows/bucket / `spark.graft.storeRowsPerFile`⌉ files
    * (default 4M rows ≈ 100–200 MB of postings/band rows; clamped to
    * ≤ 256), keyed on `hash(saltCol)` so the split is uniform and
    * deterministic. `estRows = 0` (appends — micro-batch-sized by
    * contract, and one file per touched bucket is exactly the append
    * ideal) keeps k = 1.
    */
  private def bucketAligned(df: DataFrame, partCols: Seq[String],
                            saltCol: String, estRows: Long = 0L,
                            nb: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val perFile = spark.conf.getOption("spark.graft.storeRowsPerFile")
      .map(_.toLong).getOrElse(4000000L)
    require(perFile >= 1,
      s"spark.graft.storeRowsPerFile must be >= 1, got $perFile")
    val k =
      if (estRows <= 0L || nb <= 0) 1L
      else math.min(256L, math.max(1L,
        (estRows / nb + perFile - 1) / perFile))
    if (k <= 1) df.repartition(partCols.map(col): _*)
    else
      // pin the shuffle width to buckets × k: files split only when
      // (bucket, salt) pairs land in DIFFERENT tasks, and an
      // unpinned repartition lets AQE coalesce small shuffles back
      // into few tasks, silently disabling the salt. Capped so a
      // mega-save degrades to fewer, larger files rather than an
      // absurd task count.
      df.repartition(
        math.min(nb.toLong * k, 1L << 18).toInt,
        partCols.map(col) :+ pmod(hash(col(saltCol)), lit(k.toInt)): _*)
  }

  /** The band-key Bloom's SAVE-TIME bit size: `spark.graft.bloomBits`
    * overrides when set (the shared d13 knob — by-name `keys` is
    * never evaluated then); unset, ~16 bits per expected distinct
    * band key, rounded up to a power of two, clamped to
    * [2^20, 2^28]. At 16 bits/key with the sketch's 3 probe seeds
    * the fill ratio is 1−e^(−3/16) ≈ 17% → FP ≈ 0.5%, so a novel
    * batch's zero-I/O property survives corpus growth instead of
    * decaying with a fixed default (round-13 fill audit: the x100
    * store's 2^20-bit default sat at 50% fill / 12.5% FP). The 2^28
    * cap bounds the sketch at 32 MB — still cheaply broadcast;
    * beyond ~17M distinct keys the fill rises and the prefilter
    * degrades GRACEFULLY toward pass-through (FP-only cost, never a
    * missed verdict), with probe-time file pruning remaining the
    * mega-scale mechanism. The chosen size rides in `params`
    * (probers and append-folds always use the STORED size, so the
    * rule only ever applies at save).
    */
  private[sources] def storeBloomBits(spark: SparkSession,
                                      keys: => Long): Int =
    spark.conf.getOption("spark.graft.bloomBits").map { v =>
      val m = v.toInt
      require(m > 0 && m % 32 == 0,
        s"spark.graft.bloomBits must be a positive multiple of 32, got $m")
      m
    }.getOrElse {
      val want = math.max(1L, keys) * 16L
      val pow = java.lang.Long.highestOneBit(want)
      val up = if (pow == want) want else pow * 2
      math.min(1L << 28, math.max(1L << 20, up)).toInt
    }

  /** One audit row per lifecycle op — the append-epoch log a
    * production store reads to answer "what happened to this index
    * and when": (seq, op, n_rows, ts_millis). `n_rows` is counted
    * FROM THE WRITTEN FILES (parquet footers carry row counts, so the
    * count is metadata-speed at any scale) — the audit records what
    * actually landed, not what the caller claimed: save/compact
    * record the table's on-disk total, append records the on-disk
    * DELTA, vacuum the number of orphaned temp dirs removed. `seq` is
    * read-max-plus-one — the store's single-writer assumption (the
    * same one parquet append itself carries).
    */
  final case class Epoch(seq: Int, op: String, n_rows: Long,
                         ts_millis: Long)

  /** Single-writer guard for every MUTATING op (save / append /
    * compact / merge / vacuum): an atomic create-if-absent of
    * `<dir>/.write.lock` (Hadoop `create(path, overwrite = false)` —
    * atomic on local disk and HDFS-style stores alike), released in
    * finally. The store's append, epoch-seq, and compact-swap
    * protocols all assume ONE writer; without the lock two racing
    * appendDurable calls would interleave files and mint duplicate
    * epoch seqs silently. A second writer fails LOUDLY instead, with
    * the holder's pid@host + timestamp in the message. A crashed
    * holder leaves the lock behind — clear it explicitly with
    * [[breakLock]] ([[graft.api.Graft.breakIndexLock]]); nothing
    * auto-expires, because a slow writer is indistinguishable from a
    * dead one without coordination — but it IS distinguishable with
    * one: while the op runs, a daemon HEARTBEAT thread refreshes the
    * lock file's mtime every `spark.graft.lockHeartbeatMs` (default
    * 10 s), so a crashed holder's lock goes mtime-stale within one
    * interval while a slow-but-alive writer's never does.
    * [[lockInfo]]/[[describe]] surface (holder, heartbeat age, stale
    * suspicion); the operator decides and [[breakLock]] stays the
    * explicit action — no unfenced TTL ever auto-breaks a lock (the
    * ARCHITECTURE.md lock-lease analysis: auto-expiry without
    * generation fencing re-admits the two-writer interleaving).
    * Readers never take the lock.
    */
  private[sources] def withWriteLock[T](spark: SparkSession, dir: String)
                              (body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(s"$dir/.write.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out =
      try fs.create(lock, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException =>
          val holder =
            try {
              val in = fs.open(lock)
              try scala.io.Source.fromInputStream(in).mkString
              finally in.close()
            } catch { case _: Exception => "unknown" }
          throw new IllegalStateException(
            s"$dir is locked by another writer [$holder]. If that " +
              "writer crashed, clear the lock with Graft.breakIndexLock.")
      }
    // the lock exists from here on — ONE try/finally owns its deletion,
    // so a failure writing the holder info can't strand a lock file
    // with no live holder behind it
    try {
      try {
        out.write((java.lang.management.ManagementFactory
          .getRuntimeMXBean.getName + " @ " + System.currentTimeMillis())
          .getBytes("UTF-8"))
      } finally out.close()
      // HEARTBEAT: refresh the lock's mtime while the op runs, so
      // liveness is observable from the filesystem alone (lockInfo).
      // Daemon + interrupt-on-finally: the thread can never outlive
      // the op, and a setTimes failure (e.g. an operator broke the
      // lock out from under a live writer) just ends the heartbeat —
      // the op itself is unaffected.
      val hbMs = spark.conf.getOption("spark.graft.lockHeartbeatMs")
        .map(_.toLong).getOrElse(10000L)
      val hb = new Thread(() => {
        try {
          while (!Thread.currentThread().isInterrupted) {
            Thread.sleep(hbMs)
            fs.setTimes(lock, System.currentTimeMillis(), -1)
          }
        } catch { case _: Throwable => () }
      }, s"graft-lock-heartbeat")
      hb.setDaemon(true)
      hb.start()
      try body
      finally {
        hb.interrupt()
        hb.join(2000)
      }
    } finally fs.delete(lock, false)
  }

  /** Two-directory [[withWriteLock]] for ops that mutate BOTH sides
    * ([[merge]] reads-then-deletes its source shard): locks acquire in
    * PATH ORDER, so two concurrent merges over the same pair cannot
    * deadlock, and a racing single-dir writer on either side fails
    * loudly against whichever lock it meets.
    */
  private def withWriteLocks[T](spark: SparkSession, dirA: String,
                                dirB: String)(body: => T): T = {
    val Seq(first, second) = Seq(dirA, dirB).sorted
    withWriteLock(spark, first)(withWriteLock(spark, second)(body))
  }

  /** Remove a stale `.write.lock` left by a crashed writer. Returns
    * true if a lock was removed. Only call when the holder named in
    * the lock (pid@host) is known dead — breaking a LIVE writer's
    * lock re-admits the interleaving the lock exists to prevent.
    */
  def breakLock(spark: SparkSession, dir: String): Boolean = {
    val lock = new org.apache.hadoop.fs.Path(s"$dir/.write.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lock, false)
  }

  /** The store's write lock, OBSERVED: (holder string as written at
    * acquire — pid@host + acquire millis, heartbeat age millis —
    * now minus the lock file's last heartbeat mtime, stale suspect —
    * age beyond `spark.graft.lockStaleAfterMs`, default 60 s = six
    * missed default heartbeats). None when the store is unlocked (or
    * the lock vanished mid-read — a release, which IS unlocked).
    * This is the detection half of the lock-lease decision: a live
    * writer heartbeats its mtime, so `stale_suspect = true` means the
    * holder has missed enough beats to presume it dead — the operator
    * confirms (the holder string names pid@host) and [[breakLock]]s
    * explicitly. Nothing here auto-breaks anything.
    */
  def lockInfo(spark: SparkSession, dir: String)
      : Option[(String, Long, Boolean)] = {
    val lock = new org.apache.hadoop.fs.Path(s"$dir/.write.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      if (!fs.exists(lock)) None
      else {
        val st = fs.getFileStatus(lock)
        val holder =
          try {
            val in = fs.open(lock)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          } catch { case _: Exception => "unknown" }
        val age =
          math.max(0L, System.currentTimeMillis() - st.getModificationTime)
        val staleAfter = spark.conf
          .getOption("spark.graft.lockStaleAfterMs")
          .map(_.toLong).getOrElse(60000L)
        Some((holder, age, age > staleAfter))
      }
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  private val manifestSchema =
    """message manifest {
      |  required binary kind (UTF8);
      |  required int32 version;
      |  required int64 m_bits;
      |  required int64 n_buckets;
      |}""".stripMargin

  private def writeManifest(spark: SparkSession, dir: String,
                            kind: StoreKind, mBits: Long = 0L,
                            nBuckets: Long = 0L): Unit =
    tinyWrite(spark, s"$dir/manifest", tinySchema(manifestSchema),
      Seq(g => {
        g.add("kind", kind.name); g.add("version", Version)
        g.add("m_bits", mBits); g.add("n_buckets", nBuckets)
      }))

  /** Read + validate the manifest — the ONE place a stored `kind`
    * string becomes a [[StoreKind]]. An unknown `kind` or a `version`
    * newer than this build fails loudly with the path in the message,
    * so no op — load, append, compact, merge, delete, repair,
    * describe — proceeds on a layout it cannot interpret.
    * Version-1 manifests (no `n_buckets` column) read back with
    * `n_buckets = 0` — loadable, unpruned.
    */
  private def readManifest(spark: SparkSession, dir: String): Manifest = {
    val g = tinyRead(spark, s"$dir/manifest") match {
      case Seq(g) => g
      case rows => throw new IllegalStateException(
        s"$dir/manifest: expected exactly 1 row, found ${rows.length}")
    }
    val name = g.getString("kind", 0)
    val version = g.getInteger("version", 0)
    require(version >= 1 && version <= Version,
      s"$dir was written by layout version $version; this build reads <= $Version")
    val kind = StoreKind.all.find(_.name == name)
    require(kind.isDefined, s"$dir/manifest: unknown kind '$name'")
    Manifest(kind.get, version, g.getLong("m_bits", 0),
      if (g.getType.containsField("n_buckets")) g.getLong("n_buckets", 0)
      else 0L)
  }

  /** [[readManifest]] for a kind-specific op: opening a PQ directory
    * as an IVF index fails loudly instead of mis-shaping frames.
    */
  private def readManifest(spark: SparkSession, dir: String,
                           expect: StoreKind): Manifest = {
    val m = readManifest(spark, dir)
    require(m.kind == expect,
      s"$dir holds a '${m.kind}' index, not the requested '$expect'")
    m
  }

  /** Row count of a written parquet table — metadata-speed (footer
    * row counts; no column data is read), 0 if the path is absent.
    */
  private def diskRows(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(path).count() else 0L
  }

  /** Attach a row-count observation to a frame about to be WRITTEN —
    * the epoch row count then comes from the write job itself
    * (exact on the committed write, zero extra pass, zero listings)
    * instead of a before/after [[diskRows]] pair over the stored
    * table: two O(#files) footer-count jobs per append, a measured
    * share of the per-append wall on a bucketed store (round-15
    * append profiling — the same fixed cost the bm25 append shed).
    * The returned thunk BLOCKS until the write's metrics arrive, so
    * call it only after the write action returns.
    */
  /** Whether this session's observed-metrics accumulators are EXACT
    * row counts: task SPECULATION re-runs slow tasks, and a task that
    * succeeds more than once updates an `Observation`'s accumulators
    * once per successful attempt — the committed FILES stay exact
    * (the commit protocol admits one attempt) but the observed
    * (count, sum) can over-count. Common on production clusters,
    * never on the single-box bench — so every SCORING-bearing
    * observe (the BM25 corpus stats, whose skew silently shifts
    * every score on a seeded handle) falls back to a disk- or
    * batch-backed aggregate when speculation is on. Epoch row counts
    * read through [[observedCount]] keep the observe either way:
    * they are audit telemetry, not scoring state, and a rare
    * speculative over-count there is visible, not silently baked
    * into results.
    */
  private[sources] def observesExact(spark: SparkSession): Boolean =
    !spark.sparkContext.getConf.getBoolean("spark.speculation", false)

  private def observedCount(df: DataFrame): (DataFrame, () => Long) = {
    val obs = org.apache.spark.sql.Observation()
    (df.observe(obs, count(lit(1)).as("n")),
      () => obs.get("n").asInstanceOf[Long])
  }

  private val epochSchema =
    """message epoch {
      |  required int32 seq;
      |  required binary op (UTF8);
      |  required int64 n_rows;
      |  required int64 ts_millis;
      |}""".stripMargin

  private def recordEpoch(spark: SparkSession, dir: String, op: String,
                          nRows: Long): Unit = {
    val path = s"$dir/epochs"
    val prev = new org.apache.hadoop.fs.Path(path)
    val fs = prev.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next =
      if (fs.exists(prev))
        tinyRead(spark, path).map(_.getInteger("seq", 0)).max + 1
      else 1
    tinyWrite(spark, path, tinySchema(epochSchema),
      Seq(g => {
        g.add("seq", next); g.add("op", op)
        g.add("n_rows", nRows)
        g.add("ts_millis", System.currentTimeMillis())
      }), append = true)
  }

  /** Crash-safe replacement of the live table at `live` with the
    * FULLY MATERIALIZED rewrite at `tmp` — the swap step every
    * rewrite-through-a-temp-dir op ([[compact]], the df/words folds in
    * [[appendBm25]]/[[appendBloom]]/[[merge]]) ends with. Ordering is
    * the whole point: the live table renames ASIDE to `<live>.old`
    * FIRST, the rewrite renames in, and the aside copy deletes LAST —
    * so at every instant a complete copy of the table exists under
    * `live`, `<live>.old`, or both, and [[vacuum]] can always restore
    * rather than ever facing a window where the `.compact` dir is the
    * sole copy (the pre-round-12 ordering deleted live before renaming
    * tmp in; a crash in that window made a later vacuum destroy the
    * only copy). An `.old` dir found NEXT TO a live table is debris
    * from a crash after the swap committed — safe to clear.
    */
  private def swapInto(fs: org.apache.hadoop.fs.FileSystem,
                       tmp: org.apache.hadoop.fs.Path,
                       live: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(live.toString + ".old")
    if (fs.exists(old)) {
      // debris: if the live table is missing, a previous swap crashed
      // between its two renames — restore, then proceed normally
      if (!fs.exists(live)) require(fs.rename(old, live),
        s"swap: restore $old -> $live failed; recover manually")
      else fs.delete(old, true)
    }
    if (fs.exists(live))
      require(fs.rename(live, old), s"swap: rename $live -> $old failed")
    require(fs.rename(tmp, live),
      s"swap: rename $tmp -> $live failed; the table is intact at $old")
    fs.delete(old, true)
  }

  /** Restore pass for a PER-BUCKET swap that crashed mid-protocol
    * (appendBm25's partial df fold): `<table>.oldparts/` holds the
    * renamed-aside partition dirs; any aside bucket MISSING from the
    * live table is the one the crash caught between its two renames —
    * move it back (the old rows are the only copy). Aside buckets
    * whose live sibling exists are post-swap debris — drop them.
    * Idempotent; no-op when no aside dir exists. Run by the next
    * append on the same store and by [[vacuum]].
    */
  private def restoreOldParts(fs: org.apache.hadoop.fs.FileSystem,
                              live: org.apache.hadoop.fs.Path): Unit = {
    val aside = new org.apache.hadoop.fs.Path(live.toString + ".oldparts")
    if (!fs.exists(aside)) return
    fs.listStatus(aside).filter(_.isDirectory).foreach { b =>
      val lp = new org.apache.hadoop.fs.Path(live, b.getPath.getName)
      if (!fs.exists(lp))
        require(fs.rename(b.getPath, lp),
          s"restore ${b.getPath} -> $lp failed; recover manually")
    }
    fs.delete(aside, true)
  }

  // ------------------------------------------------------------------
  // Tiny control tables: direct parquet I/O
  // ------------------------------------------------------------------

  /** The store's control tables (manifest, codebooks, epochs, stats,
    * lsh params) hold one to a few dozen rows, yet reading or writing
    * one through a Spark job costs a full scheduler round-trip — task
    * launch, commit protocol, listener traffic — per table. A
    * lifecycle op touches several (round-16 profile: the e30
    * save→load→search cell ran 22 jobs for 0.76 s of task time; 5–6
    * of them were control-table I/O). These helpers read and write
    * the SAME parquet files (spark.read.parquet reads them
    * unchanged — all specs and `describe`/`epochs` keep their Spark
    * readers) directly through parquet-hadoop on the driver, which is
    * where one-row data belongs (guide §5: the cluster is for data
    * tables). Overwrites go through a temp dir + [[swapInto]], which
    * is STRICTLY safer than the Spark `SaveMode.Overwrite`
    * (delete-then-write) they replace.
    */
  private def tinyWrite(spark: SparkSession, dirPath: String,
                        schema: org.apache.parquet.schema.MessageType,
                        rows: Seq[org.apache.parquet.example.data.Group => Unit],
                        append: Boolean = false): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dir.getFileSystem(conf)
    val target =
      if (append) dir
      else new org.apache.hadoop.fs.Path(dirPath + ".compact")
    if (!append) fs.delete(target, true)
    fs.mkdirs(target)
    // nanos-unique file name: appends accumulate one file per call.
    // APPEND CRASH SAFETY (round 17): the file is written under a
    // dot-prefixed in-progress name — every reader (tinyRead,
    // spark.read.parquet) excludes dot files — and renamed into its
    // final .parquet name only after writer.close(), restoring the
    // atomic-visibility guarantee of the commit protocol this path
    // replaced. A crash mid-write leaves only invisible debris, never
    // a truncated live file that would poison all future reads of the
    // table. (Overwrites get the same guarantee from swapInto below.)
    val base = f"part-${System.nanoTime()}%020d.parquet"
    val file = new org.apache.hadoop.fs.Path(target,
      if (append) s".$base.inprogress" else base)
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .build()
    try rows.foreach { fill =>
      val g = factory.newGroup()
      fill(g)
      writer.write(g)
    } finally writer.close()
    if (append) {
      val committed = new org.apache.hadoop.fs.Path(target, base)
      require(fs.rename(file, committed),
        s"tinyWrite append commit: rename $file -> $committed failed")
    }
    if (!append) swapInto(fs, target, dir)
  }

  /** All rows of a tiny control table, as parquet example Groups —
    * schema-driven (reads whatever the file carries), so it reads
    * Spark-written control tables from older stores and spec fixtures
    * identically to [[tinyWrite]]'s own files.
    */
  private def tinyRead(spark: SparkSession, dirPath: String)
      : Seq[org.apache.parquet.example.data.Group] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".") &&
        n.endsWith(".parquet")
    }.sortBy(_.getPath.getName)
    val out =
      scala.collection.mutable.ArrayBuffer
        .empty[org.apache.parquet.example.data.Group]
    files.foreach { st =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          st.getPath)
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          out += g
          g = reader.read()
        }
      } finally reader.close()
    }
    out.toSeq
  }

  private def tinySchema(ddl: String): org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(ddl)

  // ------------------------------------------------------------------
  // Tombstones (deletes)
  // ------------------------------------------------------------------

  /** DELETE vectors from a saved index — the lifecycle's REMOVE path
    * (takedowns, TTL expiry, dedup-after-ingest): the store is
    * append-only, so a delete writes the ids into a `tombstones/`
    * side table (one small parquet append — the stored rows are never
    * touched) and every load anti-joins it out. Tombstones stay tiny
    * until [[compact]], which REWRITES the big tables without the
    * tombstoned rows and clears the table — the standard
    * log-structured delete. Records a `delete` epoch with the on-disk
    * tombstone delta. Bloom sketches are refused: their bits are
    * shared across entries, so removal means rebuild.
    *
    * Semantics: a tombstone wins over ANY row with that vec_id,
    * including rows appended AFTER the delete — re-ingesting a
    * deleted id becomes visible only after a [[compact]] clears the
    * tombstones. `ids`: any frame with a `vec_id` column.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val kind = readManifest(spark, dir).kind
    require(kind.rows.nonEmpty,
      s"$dir holds a Bloom sketch: entries share bits, so deletion " +
        "requires a rebuild, not a tombstone")
    withWriteLock(spark, dir) {
      val distinctIds = ids
        .select(col("vec_id").cast("long").as("vec_id")).distinct()
      val foldState = kind.deleteFold(spark, dir, distinctIds)
      val before = diskRows(spark, s"$dir/tombstones")
      distinctIds
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$dir/tombstones")
      // kind state folds AFTER the tombstone append (the mask is the
      // user-visible contract; a crash between the two leaves e.g.
      // bm25 stats overstating by this batch — the same
      // bounded-staleness class as appendBm25's doclen→stats window,
      // surfaced by describe(deep)'s _corpus_stats_stale row and
      // healed by [[repair]]/[[compact]])
      foldState()
      recordEpoch(spark, dir, "delete",
        diskRows(spark, s"$dir/tombstones") - before)
    }
  }

  /** The live tombstone set, if any — (vec_id) rows. */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.parquet(p.toString).select(col("vec_id")))
    else None
  }

  /** An EAGER LOCAL snapshot of the live tombstone ids — the pull the
    * serving streams take once per handle/generation so a concurrent
    * [[compact]] that applies-and-clears the tombstone files
    * mid-stream cannot fail later micro-batches. The collect is
    * FENCED (`limit(max+1)`, one pass — never count-then-collect)
    * against `spark.graft.maxTombstoneSnapshot` (default 10M ids ≈
    * 80 MB on the driver — generous, because tombstones are small BY
    * CONTRACT: [[compact]] applies and clears them). A store whose
    * operator deletes aggressively while deferring compaction
    * otherwise materializes an unbounded set on the driver PER
    * handle/generation — the same failure class the screens' round-13
    * candidate fence closed, failed here at the same kind of named
    * boundary instead of an OOM.
    */
  def tombstoneSnapshot(spark: SparkSession, dir: String)
      : Option[DataFrame] =
    tombstones(spark, dir).map { t =>
      import spark.implicits._
      val max = graft.FenceConf.read(spark,
        "spark.graft.maxTombstoneSnapshot", 10000000L)
      val pulled = t.select(col("vec_id").cast("long")).as[Long]
        .limit(max + 1).collect()
      if (pulled.length > max)
        throw new IllegalStateException(
          s"$dir: tombstone set exceeds " +
            s"spark.graft.maxTombstoneSnapshot=$max — serving snapshots " +
            "pull the live tombstone ids to the driver once per " +
            "handle/generation, which is bounded only while deletes " +
            "are compacted away. Run Graft.compactIndex to apply and " +
            "clear the tombstones (the intended lifecycle), or raise " +
            "the conf if the driver can hold more.")
      pulled.toSeq.toDF("vec_id")
    }

  /** Anti-join the tombstone set out of a loaded big table — a
    * BROADCAST anti-join (tombstones are small by contract until the
    * next compact applies them), so masking costs one in-row hash
    * probe per scanned row, never a shuffle of the corpus.
    */
  private def maskTombstones(spark: SparkSession, dir: String,
                             df: DataFrame): DataFrame =
    tombstones(spark, dir).fold(df)(t =>
      df.join(broadcast(t), Seq("vec_id"), "left_anti"))

  /** The audit log, ordered: (seq, op, n_rows, ts_millis). Facade:
    * [[graft.api.Graft.indexEpochs]]. Gate: `e35_index_epochs` (the
    * deterministic (seq, op, n_rows) projection — row counts are
    * derivable from the source table, timestamps are wall-clock).
    */
  def epochs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/epochs")
      .select(col("seq"), col("op"), col("n_rows"), col("ts_millis"))
      .orderBy(col("seq"))

  private val codebooksSchema =
    """message codebooks {
      |  required int32 mi;
      |  required int32 ci;
      |  required group vals (LIST) {
      |    repeated group list {
      |      required double element;
      |    }
      |  }
      |}""".stripMargin

  private def writeCodebooks(spark: SparkSession, dir: String,
                             cbs: Array[Array[Array[Double]]]): Unit = {
    val rows = for {
      mi <- cbs.indices
      ci <- cbs(mi).indices
    } yield (g: org.apache.parquet.example.data.Group) => {
      g.add("mi", mi); g.add("ci", ci)
      val list = g.addGroup("vals")
      cbs(mi)(ci).foreach(v => list.addGroup("list").add("element", v))
      ()
    }
    tinyWrite(spark, s"$dir/codebooks", tinySchema(codebooksSchema), rows)
  }

  private def readCodebooks(spark: SparkSession, dir: String)
      : Array[Array[Array[Double]]] = {
    // schema-driven list access ("vals"/"list"/"element" is both this
    // writer's layout and Spark's standard 3-level parquet list)
    val rows = tinyRead(spark, s"$dir/codebooks").map { g =>
      val list = g.getGroup("vals", 0)
      val n = list.getFieldRepetitionCount("list")
      (g.getInteger("mi", 0), g.getInteger("ci", 0),
        Array.tabulate(n)(i =>
          list.getGroup("list", i).getDouble("element", 0)))
    }
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val cbs = Array.ofDim[Array[Double]](m, k)
    rows.foreach { case (mi, ci, vals) => cbs(mi)(ci) = vals }
    cbs.map(_.toArray)
  }

  // ------------------------------------------------------------------
  // IVF
  // ------------------------------------------------------------------

  /** Writes land bucket-aligned (one file per cell — see
    * [[bucketAligned]]); the rows-per-file SALT stays off here because
    * engaging it would cost a full count of the assigned table, which
    * the IVF save (unlike the text stores) has no other reason to pay.
    * File-size governance at mega-scale is therefore: size the cell
    * count to the corpus when training (the operator's lever — a
    * 16-cell index over 10^10 vectors is mis-sized regardless of file
    * layout), or run [[compact]] after the save — its rewrite knows
    * the on-disk row count for free and salts accordingly.
    */
  def saveIvf(dir: String, assigned: DataFrame,
              centroids: DataFrame): Unit = {
    val spark = assigned.sparkSession
    withWriteLock(spark, dir) {
      // shuffle-align to the cell dirs: one file per cell, not one per
      // upstream task per cell ([[bucketAligned]]; [[compact]] always
      // wrote this shape — saves now match it)
      val (aObs, aN) = observedCount(assigned.select(col("vec_id"),
        col("embedding"), col("cell")))
      bucketAligned(aObs, Seq("cell"), "vec_id")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cell").parquet(s"$dir/assigned")
      centroids.select(col("cell"), col("centroid"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
      writeManifest(spark, dir, Ivf)
      recordEpoch(spark, dir, "save", aN())
    }
  }

  /** DURABLE append — write already-assigned arrival rows (vec_id,
    * embedding, cell) INTO the saved cell-partitioned layout. The
    * stored rows are never rewritten: this is a parquet append that
    * adds files to (only) the touched cells' directories, so append
    * cost is one partitioned write of the arrivals and a restarted
    * JVM's [[loadIvf]] sees the union. Kind-checked first, so an
    * arrival batch cannot land in a PQ directory.
    */
  def appendIvf(dir: String, assignedArrivals: DataFrame): Unit = {
    val spark = assignedArrivals.sparkSession
    readManifest(spark, dir, Ivf)
    withWriteLock(spark, dir) {
      // one file per TOUCHED cell per append (bucketAligned, k = 1) —
      // a micro-batch otherwise multiplies its task count into every
      // cell dir it touches
      val (aObs, aN) = observedCount(assignedArrivals.select(
        col("vec_id"), col("embedding"), col("cell")))
      bucketAligned(aObs, Seq("cell"), "vec_id")
        .write.mode(SaveMode.Append)
        .partitionBy("cell").parquet(s"$dir/assigned")
      recordEpoch(spark, dir, "append", aN())
    }
  }

  /** (assigned, centroids) — column order and types normalized back to
    * the build-time shape (a hive partition column reads back at the
    * end of the schema; `select` + cast restores the contract).
    * Tombstoned rows ([[delete]]) are anti-joined out, so a loaded
    * handle's search/serve never surfaces a deleted vector.
    */
  def loadIvf(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    readManifest(spark, dir, Ivf)
    val assigned = maskTombstones(spark, dir,
      spark.read.parquet(s"$dir/assigned")
        .select(col("vec_id"), col("embedding"), col("cell").cast("int")))
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("centroid"))
    (assigned, centroids)
  }

  // ------------------------------------------------------------------
  // PQ
  // ------------------------------------------------------------------

  def savePq(dir: String, codes: DataFrame,
             codebooks: Array[Array[Array[Double]]],
             corpus: DataFrame): Unit = {
    val spark = codes.sparkSession
    val m = codebooks.length
    withWriteLock(spark, dir) {
      val (cObs, cN) = observedCount(codes.select(
        col("vec_id") +: (0 until m).map(mi => col(s"code_$mi")): _*))
      cObs.write.mode(SaveMode.Overwrite).parquet(s"$dir/codes")
      corpus.select(col("vec_id"), col("embedding"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/corpus")
      writeCodebooks(spark, dir, codebooks)
      writeManifest(spark, dir, Pq)
      recordEpoch(spark, dir, "save", cN())
    }
  }

  /** The PQ/IVF-PQ families' DEFAULT-ON append id contract (the
    * round-13 default-on discipline, extended from [[appendBm25]] in
    * round 16): the batch's `vec_id`s must be DISJOINT from `table` —
    * re-appending an already-present id leaves duplicate rows that
    * every downstream join fans out through (duplicate shortlist
    * candidates, duplicate rerank fetch rows). [[appendBm25]] runs
    * the same check against `doclen`. The stored side pre-filters to
    * the batch's [min, max] id range (pushed to parquet row-group
    * stats — near free for monotone-id producers), then one broadcast
    * semi-join. `consequence` ends the error message: what a
    * duplicate would corrupt and the remedy.
    */
  private def requireDisjointIds(spark: SparkSession, dir: String,
                                 table: String, batchIds: DataFrame,
                                 op: String,
                                 consequence: String = pqDuplicates)
      : Unit = {
    val rng = batchIds.agg(min(col("vec_id")).as("lo"),
      max(col("vec_id")).as("hi")).collect()(0)
    if (!rng.isNullAt(0)) {
      val dup = spark.read.parquet(s"$dir/$table")
        .select(col("vec_id"))
        .filter(col("vec_id").between(rng.getLong(0), rng.getLong(1)))
        .join(broadcast(batchIds.select(col("vec_id"))),
          Seq("vec_id"), "left_semi")
        .limit(5).collect().map(_.getLong(0))
      require(dup.isEmpty,
        s"$op: batch re-appends already-indexed vec_ids " +
          s"(${dup.mkString(", ")}${if (dup.length == 5) ", …" else ""})" +
          s" in $table — $consequence")
    }
  }

  private val pqDuplicates =
    "duplicates fan out through every downstream join. If a crashed " +
      "append left this store partial, run Graft.repairIndex (it " +
      "re-encodes stranded rows and dedups) instead of re-appending; " +
      "pass requireNewIds = false only for provably-disjoint producers"

  /** DURABLE append for the PQ layout: encoded arrival codes append to
    * `codes/`, their raw vectors to `corpus/` (the rerank fetch side).
    * Two independent parquet appends — on a failure between them the
    * corpus may briefly lead the codes: an orphan corpus row is INERT
    * (never ADC-shortlisted — rerank fetches by shortlist vec_id), a
    * crash may never produce a state that READS as healthy, so
    * `describe(deep)` counts `_codes_missing_ids` and [[repair]]
    * heals by re-encoding the stranded rows from (corpus, codebooks)
    * — a pure function, like the lsh band rebuild. Do NOT re-run the
    * append as the remedy: the corpus rows already landed, so a retry
    * fails the DEFAULT-ON disjoint-id check
    * ([[requireDisjointIds]] — `requireNewIds = false` is the
    * documented opt-out for provably-disjoint producers, e.g.
    * checkpointed streams whose replay markers already skip
    * re-delivered batches). Kind-checked first.
    */
  def appendPq(dir: String, codesArrivals: DataFrame,
               corpusArrivals: DataFrame,
               requireNewIds: Boolean = true): Unit = {
    val spark = codesArrivals.sparkSession
    readManifest(spark, dir, Pq)
    val m = readCodebooks(spark, dir).length
    withWriteLock(spark, dir) {
      if (requireNewIds)
        requireDisjointIds(spark, dir, "corpus",
          corpusArrivals.select(col("vec_id")), "appendPq")
      corpusArrivals.select(col("vec_id"), col("embedding"))
        .write.mode(SaveMode.Append).parquet(s"$dir/corpus")
      val (cObs, cN) = observedCount(codesArrivals
        .select(col("vec_id") +: (0 until m).map(mi => col(s"code_$mi")): _*))
      cObs.write.mode(SaveMode.Append).parquet(s"$dir/codes")
      recordEpoch(spark, dir, "append", cN())
    }
  }

  /** (codes, codebooks, corpus). Tombstoned rows ([[delete]]) are
    * anti-joined out of BOTH the code table and the rerank corpus, so
    * neither ADC ranking nor the exact re-rank fetch can surface a
    * deleted vector.
    */
  def loadPq(spark: SparkSession, dir: String)
      : (DataFrame, Array[Array[Array[Double]]], DataFrame) = {
    readManifest(spark, dir, Pq)
    val codebooks = readCodebooks(spark, dir)
    val m = codebooks.length
    val codes = maskTombstones(spark, dir,
      spark.read.parquet(s"$dir/codes")
        .select(col("vec_id") +: (0 until m).map(mi => col(s"code_$mi")): _*))
    val corpus = maskTombstones(spark, dir,
      spark.read.parquet(s"$dir/corpus")
        .select(col("vec_id"), col("embedding")))
    (codes, codebooks, corpus)
  }

  // ------------------------------------------------------------------
  // IVF-PQ
  // ------------------------------------------------------------------

  def saveIvfPq(dir: String, codes: DataFrame, centroids: DataFrame,
                codebooks: Array[Array[Array[Double]]]): Unit = {
    val spark = codes.sparkSession
    val m = codebooks.length
    withWriteLock(spark, dir) {
      val (cObs, cN) = observedCount(
        codes.select(Seq(col("vec_id"), col("cell")) ++
          (0 until m).map(mi => col(s"code_$mi")) ++
          (0 until m).map(mi => col(s"recon2_$mi")): _*))
      bucketAligned(cObs, Seq("cell"), "vec_id")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cell").parquet(s"$dir/codes")
      centroids.select(col("cell"), col("centroid"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
      writeCodebooks(spark, dir, codebooks)
      writeManifest(spark, dir, IvfPq)
      recordEpoch(spark, dir, "save", cN())
    }
  }

  /** DURABLE append for the IVF-PQ layout: encoded arrival rows
    * (cell + codes + reconstruction norms) append into the
    * cell-partitioned code table — files land only in the touched
    * cells' directories. ONE table, so there is no inter-table crash
    * window; the residual hazard is a blind RETRY re-appending rows a
    * "failed" attempt actually committed (duplicate code ids →
    * duplicate search candidates), refused by the DEFAULT-ON
    * disjoint-id check ([[requireDisjointIds]]); [[repair]] dedups if
    * one slipped through a `requireNewIds = false` producer.
    * Kind-checked first.
    */
  def appendIvfPq(dir: String, codesArrivals: DataFrame,
                  requireNewIds: Boolean = true): Unit = {
    val spark = codesArrivals.sparkSession
    readManifest(spark, dir, IvfPq)
    val m = readCodebooks(spark, dir).length
    withWriteLock(spark, dir) {
      if (requireNewIds)
        requireDisjointIds(spark, dir, "codes",
          codesArrivals.select(col("vec_id")), "appendIvfPq")
      val (cObs, cN) = observedCount(
        codesArrivals.select(Seq(col("vec_id"), col("cell")) ++
          (0 until m).map(mi => col(s"code_$mi")) ++
          (0 until m).map(mi => col(s"recon2_$mi")): _*))
      bucketAligned(cObs, Seq("cell"), "vec_id")
        .write.mode(SaveMode.Append)
        .partitionBy("cell").parquet(s"$dir/codes")
      recordEpoch(spark, dir, "append", cN())
    }
  }

  /** (codes, centroids, codebooks). Tombstoned rows ([[delete]]) are
    * anti-joined out of the code table.
    */
  def loadIvfPq(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Array[Array[Array[Double]]]) = {
    readManifest(spark, dir, IvfPq)
    val codebooks = readCodebooks(spark, dir)
    val m = codebooks.length
    val codes = maskTombstones(spark, dir,
      spark.read.parquet(s"$dir/codes")
        .select(Seq(col("vec_id"), col("cell").cast("int")) ++
          (0 until m).map(mi => col(s"code_$mi")) ++
          (0 until m).map(mi => col(s"recon2_$mi")): _*))
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("centroid"))
    (codes, centroids, codebooks)
  }

  // ------------------------------------------------------------------
  // Store kinds
  // ------------------------------------------------------------------

  /** A vec_id-keyed row table of a kind, with its partition columns
    * (filtered to those a stored table carries, so a v1 layout stays
    * flat). [[merge]] moves it in by file rename; [[compact]]
    * rewrites it with the tombstones applied — unless `derived`: a
    * pure per-row function of the kind's primary, which
    * [[StoreKind.compactDerived]] rebuilds instead.
    */
  private[sources] final case class RowTable(name: String,
                                             partCols: Seq[String] = Nil,
                                             derived: Boolean = false)

  /** One store kind, declared once: what it persists, and how each
    * kind-generic lifecycle op — [[compact]], [[merge]], [[describe]],
    * [[repair]], [[delete]] — treats its tables. The ops read these
    * declarations; none of them matches on a kind. The manifest's
    * on-disk `kind` string — each kind's [[name]] — becomes one of
    * these at [[readManifest]] and nowhere else.
    */
  private[sources] sealed abstract class StoreKind(val name: String) {
    /** Every table the kind writes, in [[describe]] order. */
    def tables: Seq[String]
    /** The table whose on-disk row count compact and merge epochs
      * record. */
    def primary: String
    /** The vec_id row tables. Empty for a pure sketch, whose entries
      * share bits and so cannot take tombstones. */
    def rows: Seq[RowTable] = Nil
    /** [[merge]]: value-check the frozen artifacts the two stores must
      * share. Runs BEFORE the merge intent is stamped, so a refused
      * shard leaves no pending-merge state behind. */
    def requireMergeable(spark: SparkSession, dst: String,
                         src: String): Unit = ()
    /** [[merge]]: fold what cannot move by rename (sketches,
      * aggregates), after the row tables moved. Must be safe to
      * re-run on a crash-resumed merge. */
    def mergeFold(spark: SparkSession, dst: String, src: String,
                  man: Manifest): Unit = ()
    /** [[compact]]: rewrite what the row-table compaction does not
      * cover — derived tables, sketches, aggregates. */
    def compactDerived(spark: SparkSession, dir: String,
                       man: Manifest): Unit = ()
    /** [[delete]]: kind state computed from the ids BEFORE the
      * tombstone append; the returned thunk writes it AFTER. */
    def deleteFold(spark: SparkSession, dir: String,
                   ids: DataFrame): () => Unit = () => ()
    /** [[describe]]`(deep = true)`: (check row, count) pairs — the
      * read-only signatures of what [[heal]] repairs. */
    def deepChecks(spark: SparkSession, dir: String): Seq[(String, Long)] =
      Nil
    /** [[repair]]: heal what [[deepChecks]] detects — one
      * (issue, n, action) row per finding. */
    def heal(spark: SparkSession, dir: String,
             man: Manifest): Seq[(String, Long, String)] = Nil

    /** Dedup row table `table` when it holds duplicate ids
      * ([[dedupIdsRewrite]], following its declared layout) — the
      * finding, if there was one. */
    protected def dedup(spark: SparkSession, dir: String, table: String,
                        label: String): Option[(String, Long, String)] = {
      val n = duplicateIdCount(
        spark.read.parquet(s"$dir/$table").select(col("vec_id")))
      if (n == 0) None
      else {
        dedupIdsRewrite(spark, dir, table,
          rows.find(_.name == table).fold(Seq.empty[String])(_.partCols))
        Some((s"duplicate_${label}_ids", n, s"${table}_deduped"))
      }
    }

    override def toString: String = name
  }

  /** The band-deriving kinds: a `bands` table that is a pure per-row
    * function of the primary (lsh bands from the signatures, phash
    * chunks from the hashes), plus a bit_or Bloom over its band keys
    * — the zero-I/O prefilter screens probe before any stored file.
    */
  private[sources] sealed abstract class Banded(name: String,
                                                val sketch: String)
      extends StoreKind(name) {
    /** The exact band-row fan-out per primary row. */
    def bandsPerRow(spark: SparkSession, dir: String): Int
    /** The band rows rebuilt from the stored primary, with their
      * bucket columns under modulus `nb`. */
    def bandRows(spark: SparkSession, dir: String, nb: Int): DataFrame
    def bandPartCols(nb: Int): Seq[String]
    /** The stored sketch's bit size; None when the store keeps none. */
    def sketchBits(spark: SparkSession, dir: String,
                   man: Manifest): Option[Int]
    def sketchOf(bands: DataFrame, bits: Int): DataFrame

    /** Rebuild the band-key sketch from the stored band table — a pure
      * function of it, and the only way a Bloom can "forget"
      * tombstoned keys. */
    def rebuildSketch(spark: SparkSession, dir: String,
                      man: Manifest): Unit =
      sketchBits(spark, dir, man).foreach { bits =>
        rewriteTable(spark, dir, sketch)(tmp =>
          sketchOf(spark.read.parquet(s"$dir/bands"), bits).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(tmp))
      }

    /** Rebuild the band table wholesale from the primary (no data
      * loss — bands are derived), then its sketch from the new rows. */
    def rebuildBands(spark: SparkSession, dir: String,
                     man: Manifest): Unit = {
      val nb = man.n_buckets.toInt
      val perRow = bandsPerRow(spark, dir)
      val pc = bandPartCols(nb)
      rewriteTable(spark, dir, "bands")(tmp =>
        bucketAligned(bandRows(spark, dir, nb), pc, "vec_id",
            diskRows(spark, s"$dir/$primary") * perRow,
            math.max(1, perRow * math.max(1, nb)))
          .write.mode(SaveMode.Overwrite)
          .partitionBy(pc: _*).parquet(tmp))
      rebuildSketch(spark, dir, man)
    }

    /** Count of ids whose band coverage is INCONSISTENT with the
      * layout's exact fan-out — primary rows with missing/partial band
      * rows (the crashed-append strand: those docs silently stop being
      * screen candidates) or band rows with no primary. The expected
      * fan-out scales by the id's PRIMARY row count (bands are a pure
      * per-row function of the primary, so a duplicated primary id
      * legitimately carries nBands × its duplicates — duplication is
      * its own defect, counted by [[duplicateIdCount]] and healed by
      * the primary dedup; conflating it here made a
      * consistently-duplicated store re-flag coverage on every run and
      * the healthy-repairs-to-empty invariant never converge). One
      * map-side-combinable count per table. */
    def bandCoverageBadIds(spark: SparkSession, dir: String): Long = {
      val nBands = bandsPerRow(spark, dir)
      val primN = spark.read.parquet(s"$dir/$primary")
        .groupBy(col("vec_id")).agg(count(lit(1)).as("n_prim"))
      val bandN = spark.read.parquet(s"$dir/bands")
        .groupBy(col("vec_id")).agg(count(lit(1)).as("n_band"))
      primN.join(bandN, Seq("vec_id"), "full_outer")
        .filter(col("n_prim").isNull ||
          col("n_band").isNull || col("n_band") =!= col("n_prim") * nBands)
        .count()
    }

    // the band-key Bloom FOLDS (bit_or — idempotent, so a crash-resume
    // re-fold is harmless; equal bit sizes are guaranteed by merge's
    // m_bits / params checks); the shard's sketch is deleted with its
    // directory at the end of the merge
    override def mergeFold(spark: SparkSession, dst: String, src: String,
                           man: Manifest): Unit =
      if (pathExists(spark, s"$src/$sketch") &&
          pathExists(spark, s"$dst/$sketch"))
        foldSketch(spark, dst, sketch,
          spark.read.parquet(s"$src/$sketch"), oneFile = true)

    override def deepChecks(spark: SparkSession,
                            dir: String): Seq[(String, Long)] =
      if (!pathExists(spark, s"$dir/bands")) Nil
      else Seq(
        "_band_coverage_inconsistent_ids" -> bandCoverageBadIds(spark, dir),
        "_duplicate_primary_ids" ->
          duplicateIdCount(spark.read.parquet(s"$dir/$primary")))

    // The band table is DERIVED, and the appends write the primary
    // first, so a crash between the two appends leaves primary rows
    // with missing (or, under a mid-job-commit crash, partial) band
    // coverage: those documents silently stop being CANDIDATES on
    // every later screen — a missed-near-dup class, worse than the
    // FP-only sketch drift the fold-first ordering already bounds.
    // Heal: rebuild the band table wholesale from the primary and
    // the sketch from the rebuilt rows — no data loss, unlike the bm25
    // orphan case (there the PRIMARY rows were the partial landing).
    // A duplicated PRIMARY id (a blind retry under the durable-ingest
    // path's marker gap) dedups FIRST, so the rebuild derives from the
    // healed primary and a healthy store repairs to an empty report on
    // the next run (ADVICE r15: the pre-r16 coverage check re-flagged
    // a consistently-duplicated store forever).
    override def heal(spark: SparkSession, dir: String,
                      man: Manifest): Seq[(String, Long, String)] =
      if (!pathExists(spark, s"$dir/bands")) Nil
      else {
        val dup = dedup(spark, dir, primary, "primary")
        val nBad = bandCoverageBadIds(spark, dir)
        if (nBad > 0) rebuildBands(spark, dir, man)
        dup.toSeq ++ (if (nBad == 0) Nil else Seq((
          "band_coverage_inconsistent_ids", nBad,
          s"bands_rebuilt_from_$primary")))
      }
  }

  private[sources] object StoreKind {
    /** `assigned/` = (vec_id, embedding, cell) partitioned by cell;
      * `centroids/` = the tiny (cell, centroid) coarse table. */
    case object Ivf extends StoreKind("ivf") {
      val tables = Seq("assigned", "centroids")
      val primary = "assigned"
      override val rows = Seq(RowTable("assigned", Seq("cell")))
      override def requireMergeable(spark: SparkSession, dst: String,
                                    src: String): Unit =
        requireSameCentroids(spark, dst, src)
    }

    // PQ / IVF-PQ crash classes (round 16 — the bm25/lsh discipline
    // extended to the compressed families). (1) pq's `appendPq` writes
    // corpus FIRST, codes second — a crash between the appends
    // strands corpus rows with no code row: INERT vectors that
    // silently vanish from every ADC shortlist (the missed-result
    // class). Codes are a PURE FUNCTION of (corpus, codebooks) — heal
    // by re-encoding exactly the stranded ids through the same
    // [[graft.operators.SimilarityQueries.pqEncode]] kernel every
    // build and append uses, so healed ≡ never-crashed bit-for-bit.
    // (2) duplicate ids — the blind-retry residue a
    // `requireNewIds = false` producer can leave (the default-on check
    // refuses it otherwise): dedup the table in place (replayed rows
    // are byte-identical re-encodes of the same vector, so keeping any
    // one is exact).
    /** `codes/` = (vec_id, code_0..) unpartitioned (ADC scans all
      * codes by design); `codebooks/` = (mi, ci, vals) rows;
      * `corpus/` = (vec_id, embedding), the rerank fetch side. */
    case object Pq extends StoreKind("pq") {
      val tables = Seq("codes", "codebooks", "corpus")
      val primary = "codes"
      override val rows = Seq(RowTable("codes"), RowTable("corpus"))
      override def requireMergeable(spark: SparkSession, dst: String,
                                    src: String): Unit =
        requireSameCodebooks(spark, dst, src)
      override def deepChecks(spark: SparkSession,
                              dir: String): Seq[(String, Long)] = Seq(
        "_codes_missing_ids" ->
          idsMissingFrom(spark, dir, "corpus", "codes").count(),
        "_duplicate_corpus_ids" ->
          duplicateIdCount(spark.read.parquet(s"$dir/corpus")),
        "_duplicate_codes_ids" ->
          duplicateIdCount(spark.read.parquet(s"$dir/codes")))
      override def heal(spark: SparkSession, dir: String,
                        man: Manifest): Seq[(String, Long, String)] = {
        // the corpus dedups BEFORE the re-encode reads it
        val dups = dedup(spark, dir, "codes", "codes").toSeq ++
          dedup(spark, dir, "corpus", "corpus")
        val stranded = idsMissingFrom(spark, dir, "corpus", "codes")
        val nMissing = stranded.count()
        if (nMissing > 0)
          graft.operators.SimilarityQueries.pqEncode(
              spark.read.parquet(s"$dir/corpus")
                .select(col("vec_id"), col("embedding"))
                .join(broadcast(stranded), Seq("vec_id"), "left_semi"),
              readCodebooks(spark, dir))
            .write.mode(SaveMode.Append).parquet(s"$dir/codes")
        dups ++ (if (nMissing == 0) Nil else Seq((
          "codes_missing_ids", nMissing, "codes_reencoded_from_corpus")))
      }
    }

    /** `codes/` = (vec_id, cell, code_*, recon2_*) partitioned by
      * cell, plus the coarse `centroids/` and residual `codebooks/`. */
    case object IvfPq extends StoreKind("ivfpq") {
      val tables = Seq("codes", "centroids", "codebooks")
      val primary = "codes"
      override val rows = Seq(RowTable("codes", Seq("cell")))
      override def requireMergeable(spark: SparkSession, dst: String,
                                    src: String): Unit = {
        requireSameCentroids(spark, dst, src)
        requireSameCodebooks(spark, dst, src)
      }
      override def deepChecks(spark: SparkSession,
                              dir: String): Seq[(String, Long)] = Seq(
        "_duplicate_codes_ids" ->
          duplicateIdCount(spark.read.parquet(s"$dir/codes")))
      override def heal(spark: SparkSession, dir: String,
                        man: Manifest): Seq[(String, Long, String)] =
        dedup(spark, dir, "codes", "codes").toSeq
    }

    /** See [[saveLsh]]: `sigs/` by `sb`, `bands/` by (band, `bb`),
      * `params/` the banding parameters screens replay, `bkbloom/`
      * the band-key Bloom. */
    case object Lsh extends Banded("lsh", "bkbloom") {
      val tables = Seq("sigs", "bands", "params", "bkbloom")
      val primary = "sigs"
      override val rows = Seq(RowTable("sigs", Seq("sb")),
        RowTable("bands", Seq("band", "bb")))
      override def requireMergeable(spark: SparkSession, dst: String,
                                    src: String): Unit =
        requireSameLshParams(spark, dst, src)
      override def compactDerived(spark: SparkSession, dir: String,
                                  man: Manifest): Unit =
        rebuildSketch(spark, dir, man)
      def bandsPerRow(spark: SparkSession, dir: String): Int = {
        val p = tinyRead(spark, s"$dir/params").head
        math.max(1,
          p.getInteger("num_hashes", 0) / p.getInteger("rows_per_band", 0))
      }
      def bandRows(spark: SparkSession, dir: String, nb: Int): DataFrame = {
        val p = tinyRead(spark, s"$dir/params").head
        val rows = graft.operators.DedupQueries.lshBandRows(
          spark.read.parquet(s"$dir/sigs").select(col("vec_id"), col("sig")),
          p.getInteger("rows_per_band", 0), p.getInteger("num_hashes", 0))
        if (nb > 0) lshWithBb(rows, nb)
        else rows.select(col("vec_id"), col("bkey"), col("band"))
      }
      def bandPartCols(nb: Int): Seq[String] =
        if (nb > 0) Seq("band", "bb") else Seq("band")
      def sketchBits(spark: SparkSession, dir: String,
                     man: Manifest): Option[Int] = bkbloomBitsOf(spark, dir)
      def sketchOf(bands: DataFrame, bits: Int): DataFrame =
        bkeySketchOf(bands, bits)
    }

    /** See [[saveBm25]]: `postings/` by `tb`, `doclen/` (the append
      * commit point), the `df/` aggregate and the one-row corpus
      * `stats/`. */
    case object Bm25 extends StoreKind("bm25") {
      val tables = Seq("postings", "doclen", "df", "stats")
      val primary = "doclen"
      override val rows = Seq(RowTable("postings", Seq("tb")),
        RowTable("doclen"))

      override def requireMergeable(spark: SparkSession, dst: String,
                                    src: String): Unit = {
        // postings files rename across — a denormalized (dl-carrying)
        // and a normalized shard cannot share one table
        def denorm(d: String) = spark.read.parquet(s"$d/postings")
          .columns.contains("dl")
        require(denorm(dst) == denorm(src),
          s"cannot merge: one of $dst / $src is a denormalized " +
            "(dl-on-postings) bm25 store and the other is not — " +
            "rewriteBm25Layout migrates either side in place")
        // a pending df fold means that side's df may be MIXED
        // folded/unfolded — merging would fold the other side's df
        // onto the inconsistent base and bake the drift in; the heal
        // must run first (it recomputes df from the postings)
        Seq(dst, src).foreach { d =>
          require(!pathExists(spark, bm25FoldIntent(d).toString),
            s"cannot merge: $d has an unfinished df fold " +
              "(df.fold.intent — a crashed append) and its df may be " +
              s"inconsistent; run Graft.repairIndex on $d first")
        }
      }

      // postings/doclen moved by rename; df is an AGGREGATE, so it
      // FOLDS (union + sum through a temp swap). Folding is not
      // rename-idempotent, so the shard's df table is deleted the
      // moment the fold commits: a crash-resume skips an
      // already-consumed fold. The residual window (crash between the
      // fold's rename and the shard-df delete) can double-count df —
      // healable, because compact RECOMPUTES df from the postings;
      // documented, never silent data loss. Corpus stats RECOMPUTE from
      // the merged doclen, MASKED by the merged tombstone set (the
      // [[writeBm25Stats]] live-only invariant) — crash-resume
      // idempotent, where a fold of the two stats rows could
      // double-count; the shard's stats table dies with its directory.
      override def mergeFold(spark: SparkSession, dst: String, src: String,
                             man: Manifest): Unit = {
        val srcDf = new org.apache.hadoop.fs.Path(s"$src/df")
        val fs = srcDf.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(srcDf)) {
          val folded = spark.read.parquet(s"$dst/df")
            .select(col("tok"), col("df"))
            .unionByName(spark.read.parquet(s"$src/df")
              .select(col("tok"), col("df")))
            .groupBy(col("tok")).agg(sum(col("df")).as("df"))
          rewriteTable(spark, dst, "df")(tmp =>
            writeBm25Table(folded, Seq("tok", "df"), man.n_buckets.toInt,
              "tok", 0L, SaveMode.Overwrite, tmp))
          fs.delete(srcDf, true)
        }
        val (mn, ms) = maskedDoclenStats(spark, dst)
        writeBm25Stats(spark, dst, mn, ms)
      }

      // recompute df FROM the compacted postings — heals the documented
      // delete staleness (Lucene's merge semantics) and any
      // crashed-append drift in one pass; a pending fold intent (a
      // crash mid-partial-fold) is healed by the same recompute, so
      // clear it too. Corpus stats recompute from the compacted doclen
      // — deletes are now applied, so (N, Σdl) reflect the survivors.
      override def compactDerived(spark: SparkSession, dir: String,
                                  man: Manifest): Unit = {
        recomputeBm25Df(spark, dir, man.n_buckets.toInt)
        val intent = bm25FoldIntent(dir)
        intent.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(intent, false)
        val (n, sumDl) = doclenStatsOf(spark.read.parquet(s"$dir/doclen"))
        writeBm25Stats(spark, dir, n, sumDl)
      }

      // bm25 keeps its persisted corpus stats LIVE-ONLY (the
      // [[writeBm25Stats]] invariant): fold them NEGATIVELY with the
      // newly-tombstoned docs' (count, Σdl) — computed HERE, once, at
      // delete time (an id-pruned batch-sized pull), so every later
      // reopen seeds (N, avgdl) straight from the stats table instead
      // of re-aggregating the masked doclen per handle — the exact
      // O(corpus)-scan class round 15 removed from the append cycle.
      // Already-tombstoned ids are excluded (a double delete must not
      // subtract twice); ids with no doclen row contribute 0. A
      // pre-round-16 stats row (live_only = false) with tombstones
      // already pending can't fold — it recomputes from the masked
      // aggregate after the append instead (one narrow scan, once —
      // the upgrade).
      override def deleteFold(spark: SparkSession, dir: String,
                              ids: DataFrame): () => Unit =
        readBm25Stats(spark, dir).fold[() => Unit](() => ()) {
          case (n0, s0, live) =>
            val pre = tombstones(spark, dir)
            if (live || pre.isEmpty) {
              val newIds = pre.fold(ids)(t =>
                ids.join(broadcast(t), Seq("vec_id"), "left_anti"))
              val (dn, ds) = doclenStatsOfIds(spark, dir, newIds)
              () => writeBm25Stats(spark, dir, n0 - dn, s0 - ds)
            } else () => {
              val (n, s) = maskedDoclenStats(spark, dir)
              writeBm25Stats(spark, dir, n, s)
            }
        }

      override def deepChecks(spark: SparkSession,
                              dir: String): Seq[(String, Long)] = Seq(
        "_orphan_postings_ids" ->
          idsMissingFrom(spark, dir, "postings", "doclen").count(),
        // stats drift (a crash in the doclen→stats or tombstone→stats
        // window) surfaced READ-ONLY; an absent row is the documented
        // fallback, not drift
        "_corpus_stats_stale" ->
          (if (bm25StatsHold(spark, dir, maskedDoclenStats(spark, dir))
              .contains(false)) 1L else 0L),
        "_df_fold_intent_pending" ->
          (if (pathExists(spark, bm25FoldIntent(dir).toString)) 1L else 0L))

      // (1) a pending `df.fold.intent` means df may be MIXED
      // folded/unfolded across buckets: df recomputes from the
      // postings ([[recomputeBm25Df]]) and the intent lifts. (2)
      // orphaned postings — ids with postings rows but no doclen row
      // (doclen is the append commit point, so these are a crashed
      // batch's partial landing) — are REMOVED, so the denormalized
      // layout stops scoring them and a clean re-append is legal; df
      // recomputes from the healed table. (3) the stats row
      // revalidates against the masked doclen aggregate and rewrites
      // on any mismatch, or when absent.
      override def heal(spark: SparkSession, dir: String,
                        man: Manifest): Seq[(String, Long, String)] = {
        val nb = man.n_buckets.toInt
        val intent = bm25FoldIntent(dir)
        val fs = intent.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val intentPending = fs.exists(intent)
        val nOrphans = idsMissingFrom(spark, dir, "postings", "doclen").count()
        if (nOrphans > 0) {
          val raw = spark.read.parquet(s"$dir/postings")
          val pCols = Seq("vec_id", "tok", "tf") ++
            (if (raw.columns.contains("dl")) Seq("dl") else Nil)
          val healed = raw.join(
            spark.read.parquet(s"$dir/doclen").select(col("vec_id")),
            Seq("vec_id"), "left_semi")
          rewriteTable(spark, dir, "postings")(tmp =>
            writeBm25Table(healed, pCols, nb, "vec_id",
              diskRows(spark, s"$dir/postings"), SaveMode.Overwrite, tmp))
        }
        if (intentPending || nOrphans > 0) {
          recomputeBm25Df(spark, dir, nb)
          fs.delete(intent, false)
        }
        val (n, sumDl) = maskedDoclenStats(spark, dir)
        val statsHold = bm25StatsHold(spark, dir, (n, sumDl)).contains(true)
        if (!statsHold) writeBm25Stats(spark, dir, n, sumDl)
        Seq(
          intentPending -> (("df_fold_interrupted", 1L, "df_recomputed")),
          (nOrphans > 0) -> (("orphaned_postings_ids", nOrphans, "removed")),
          !statsHold -> (("corpus_stats_stale", 1L, "recomputed")))
          .collect { case (true, finding) => finding }
      }
    }

    /** See [[savePhash]]: `hashes/` (vec_id, lo, hi), and on a
      * bucketed store the derived `bands/` by `pb` plus the
      * `pbbloom/` band-key Bloom. */
    case object Phash extends Banded("phash", "pbbloom") {
      val tables = Seq("hashes", "bands", "pbbloom")
      val primary = "hashes"
      // bands/ is a pure function of hashes/ — compact REBUILDS it from
      // the compacted table (tombstones land for free) rather than swap
      override val rows = Seq(RowTable("hashes"),
        RowTable("bands", Seq("pb"), derived = true))
      override def compactDerived(spark: SparkSession, dir: String,
                                  man: Manifest): Unit =
        if (man.n_buckets > 0) rebuildBands(spark, dir, man)
      def bandsPerRow(spark: SparkSession, dir: String): Int = 5
      def bandRows(spark: SparkSession, dir: String, nb: Int): DataFrame =
        phashBandRows(spark.read.parquet(s"$dir/hashes")
          .select(col("vec_id"), col("lo"), col("hi")), nb)
      def bandPartCols(nb: Int): Seq[String] = Seq("pb")
      def sketchBits(spark: SparkSession, dir: String,
                     man: Manifest): Option[Int] =
        Some(man.m_bits.toInt).filter(_ > 0)
      def sketchOf(bands: DataFrame, bits: Int): DataFrame =
        pbkeySketchOf(bands, bits)
    }

    /** `words/` = the (w, word) bit rows; the bit size rides in the
      * manifest's `m_bits`. */
    case object Bloom extends StoreKind("bloom") {
      val tables = Seq("words")
      val primary = "words"
      // mergeable-sketch semantics: the union is a bit_or fold over the
      // word rows, materialized FULLY into a temp dir before the live
      // table is touched
      override def mergeFold(spark: SparkSession, dst: String, src: String,
                             man: Manifest): Unit =
        foldSketch(spark, dst, "words", spark.read.parquet(s"$src/words"),
          oneFile = false)
      // no vec_id rows: compact rewrites the word table as it stands
      override def compactDerived(spark: SparkSession, dir: String,
                                  man: Manifest): Unit =
        compactTable(spark, dir, "words", Nil, None)
    }

    val all: Seq[StoreKind] = Seq(Ivf, Pq, IvfPq, Lsh, Bm25, Phash, Bloom)
  }

  private def requireSameCentroids(spark: SparkSession, dst: String,
                                   src: String): Unit = {
    def pulled(dir: String) = spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    require(pulled(dst) == pulled(src),
      s"$src was built against different centroids than $dst — " +
        "merging would mis-cell its rows; shards must come from the " +
        "same trained handle")
  }

  private def requireSameCodebooks(spark: SparkSession, dst: String,
                                   src: String): Unit = {
    val a = readCodebooks(spark, dst)
    val b = readCodebooks(spark, src)
    require(a.length == b.length && a.indices.forall(mi =>
      a(mi).length == b(mi).length && a(mi).indices.forall(ci =>
        a(mi)(ci).sameElements(b(mi)(ci)))),
      s"$src was built against different codebooks than $dst — " +
        "merging would mix incompatible code spaces; shards must come " +
        "from the same trained handle")
  }

  private def requireSameLshParams(spark: SparkSession, dst: String,
                                   src: String): Unit = {
    def pulled(dir: String) = tinyRead(spark, s"$dir/params")
      .map(g => (g.getDouble("threshold", 0),
        g.getInteger("num_hashes", 0), g.getInteger("rows_per_band", 0)))
    require(pulled(dst) == pulled(src),
      s"$src was banded with different LSH parameters than $dst " +
        "— merging would mix incompatible bucket spaces")
    require(bkbloomBitsOf(spark, dst) == bkbloomBitsOf(spark, src),
      s"$src and $dst carry band-key Blooms of different sizes " +
        "— their words cannot bit_or-fold; rebuild one side")
  }

  // ------------------------------------------------------------------
  // Maintenance
  // ------------------------------------------------------------------

  /** COMPACT a saved index's big tables in place — the maintenance op
    * a store runs after many small [[appendIvf]]/[[appendPq]]/
    * [[appendIvfPq]] batches (each append adds a file set per touched
    * partition; a year of micro-batch appends is a year of small
    * files). Each table is rewritten through a temp directory and
    * swapped in via filesystem rename (Hadoop `FileSystem`, so the
    * same code compacts local disk or HDFS-style stores):
    * cell-partitioned tables land one file per cell (a `repartition`
    * on the partition column puts each cell in exactly one task),
    * flat tables coalesce to ⌈bytes / target⌉ files (default target
    * 128 MB per file — `spark.graft.compactTargetBytes`). The rewrite
    * fully materializes into the temp dir BEFORE the original is
    * removed, so a crash leaves either the old or the new complete
    * table (plus, at worst, an orphaned `.compact` temp dir the next
    * compact clears). Readers opened before the swap may fail
    * mid-scan — the standard table-maintenance caveat; reopen handles
    * after compacting. Results are bit-identical (IndexStoreSpec).
    */
  def compact(spark: SparkSession, dir: String): Unit = withWriteLock(spark, dir) {
    val man = readManifest(spark, dir)
    // compaction is where tombstones get APPLIED: vec_id-keyed tables
    // rewrite without the deleted rows, then the tombstone table is
    // cleared. A crash after some swaps but before the clear is safe —
    // loads keep masking, and anti-joining an already-removed id is a
    // no-op, so re-running compact converges.
    val tomb = tombstones(spark, dir)
    man.kind.rows.filterNot(_.derived)
      .foreach(t => compactTable(spark, dir, t.name, t.partCols, tomb))
    man.kind.compactDerived(spark, dir, man)
    // the epoch log itself accretes one small file per lifecycle op —
    // collapse it with the big tables, then record this compaction
    compactTable(spark, dir, "epochs", Nil, None)
    // tombstones are now applied — clear them so a later re-ingest of
    // a deleted id becomes visible (the documented delete contract)
    if (tomb.isDefined) {
      val t = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
      t.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(t, true)
    }
    recordEpoch(spark, dir, "compact",
      diskRows(spark, s"$dir/${man.kind.primary}"))
  }

  /** Rewrite `dir/table` through its `.compact` temp dir: `write`
    * fully materializes the new table at the temp path it is given,
    * then [[swapInto]] replaces the live table — the crash-safe order
    * every in-place rewrite (compact, folds, heals, layout
    * migrations) follows.
    */
  private def rewriteTable(spark: SparkSession, dir: String, table: String)
                          (write: String => Unit): Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/$table.compact")
    fs.delete(tmp, true)
    write(tmp.toString)
    swapInto(fs, tmp, live)
  }

  /** [[compact]]'s rewrite of one stored table (absent tables are
    * skipped), with `tomb` anti-joined out when given. Partition
    * columns follow the STORED layout: the requested cols are
    * filtered to those actually present, so a v1 (unbucketed) table
    * compacts flat and a v2 one keeps its probe buckets.
    */
  private def compactTable(spark: SparkSession, dir: String, table: String,
                           partCols: Seq[String],
                           tomb: Option[DataFrame]): Unit = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(src)) return
    val raw = spark.read.parquet(src.toString)
    val pc = partCols.filter(raw.columns.contains)
    val df = tomb.fold(raw)(t =>
      raw.join(broadcast(t), Seq("vec_id"), "left_anti"))
    rewriteTable(spark, dir, table) { tmp =>
      if (pc.nonEmpty) {
        // same write alignment as the save paths, salt included: one
        // file per partition dir by default, split past
        // spark.graft.storeRowsPerFile so a hot bucket compacts into
        // k bounded files instead of one unbounded one. Row count is
        // footer-metadata; dir count one listing-backed distinct over
        // the partition columns (no data bytes read). Every
        // pc-partitioned table carries vec_id (the salt key).
        val rows = diskRows(spark, src.toString)
        val nDirs = raw.select(pc.map(col): _*).distinct().count()
        bucketAligned(df, pc, "vec_id", rows, math.max(1L, nDirs).toInt)
          .write.mode(SaveMode.Overwrite)
          .partitionBy(pc: _*).parquet(tmp)
      } else {
        val targetBytes = spark.conf
          .getOption("spark.graft.compactTargetBytes")
          .map(_.toLong).getOrElse(128L * 1024 * 1024)
        val bytes = fs.getContentSummary(src).getLength
        val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
        df.coalesce(nFiles.toInt)
          .write.mode(SaveMode.Overwrite).parquet(tmp)
      }
    }
  }

  /** bit_or-fold `words` — (w, word) rows — into the sketch table
    * `dir/table` through [[rewriteTable]]: the mergeable-sketch union
    * every append and merge of a sketch runs (idempotent, so a
    * crash-retry re-fold is harmless). `oneFile` writes the band-key
    * sketches as one file; a Bloom store's word table keeps its
    * aggregate's file count.
    */
  private def foldSketch(spark: SparkSession, dir: String, table: String,
                         words: DataFrame, oneFile: Boolean): Unit = {
    val folded = spark.read.parquet(s"$dir/$table").unionByName(words)
      .groupBy(col("w")).agg(expr("bit_or(word)").as("word"))
    rewriteTable(spark, dir, table)(tmp =>
      (if (oneFile) folded.coalesce(1) else folded)
        .write.mode(SaveMode.Overwrite).parquet(tmp))
  }

  /** MERGE a shard index directory into `dstDir` — the reduce step of
    * a PARALLEL index build: train the artifacts once, let N
    * independent jobs encode disjoint corpus slices into their own
    * shard directories ([[graft.api.Graft.IvfIndex.shard]] et al. —
    * no write contention, no coordination), then fold the shards into
    * the serving directory. Both directories must hold the SAME kind
    * and IDENTICAL frozen artifacts (centroids / codebooks / mBits —
    * compared value-by-value, so merging two independently trained
    * indexes fails loudly instead of silently mis-celling half the
    * corpus). The big data tables move by FILESYSTEM RENAME — per
    * partition directory for the cell-partitioned families —
    * so a merge is metadata-speed regardless of corpus size (the
    * 100 TB property: the reduce step never reads a data byte). The
    * Bloom kind is the exception by nature: its union is a bit_or
    * fold over the word rows (mergeable-sketch semantics), rewritten
    * through a temp dir + rename swap. Records a `merge` epoch with
    * the on-disk row delta, then DELETES the consumed shard
    * directory.
    *
    * Concurrency: BOTH directories' write locks are taken
    * (path-ordered, so concurrent merges cannot deadlock) — the shard
    * is read and finally deleted, so a racing `appendDurable` into it
    * fails loudly on the shard's lock instead of appending rows that
    * the merge would silently delete with the directory.
    *
    * Crash-atomicity: a `.merge.intent` file in dst brackets the file
    * moves (see the protocol comment in the body) — a crashed merge
    * leaves the intent behind and is COMPLETED by re-running
    * merge(dst, same shard); merging a different shard while an
    * intent is pending is refused.
    */
  def merge(spark: SparkSession, dstDir: String, srcDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration

    /** Both manifests agree, then the kind value-checks its frozen
      * artifacts — all BEFORE the intent is stamped, so a refused
      * shard (different training run) leaves no pending-merge state.
      */
    def validate(dm: Manifest): Unit = {
      val sm = readManifest(spark, srcDir)
      require(dm.kind == sm.kind,
        s"cannot merge a '${sm.kind}' shard into a '${dm.kind}' index")
      require(dm.version == sm.version,
        s"layout version mismatch: $dstDir=${dm.version}, $srcDir=${sm.version}; this build reads <= $Version")
      require(dm.m_bits == sm.m_bits,
        "cannot merge stores with different size parameters " +
          s"(Bloom bits / LSH rows-per-band): ${dm.m_bits} vs ${sm.m_bits}")
      require(dm.n_buckets == sm.n_buckets,
        "cannot merge stores with different probe-bucket moduli " +
          s"(${dm.n_buckets} vs ${sm.n_buckets}) — their partition " +
          "values would interleave incompatibly; rebuild one side")
      dm.kind.requireMergeable(spark, dstDir, srcDir)
    }

    /** Move every data file of `srcDir/table` into `dstDir/table` by
      * rename (with its checksum sibling on checksummed filesystems).
      * Parquet part filenames carry a write-UUID, so collisions mean
      * the same shard was merged twice — refused, not overwritten.
      */
    def moveFiles(fs: org.apache.hadoop.fs.FileSystem,
                  from: org.apache.hadoop.fs.Path,
                  to: org.apache.hadoop.fs.Path): Unit = {
      if (!fs.exists(to)) fs.mkdirs(to)
      fs.listStatus(from).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) moveFiles(fs, st.getPath,
          new org.apache.hadoop.fs.Path(to, name))
        else if (!name.startsWith("_") && !name.startsWith(".")) {
          val dstFile = new org.apache.hadoop.fs.Path(to, name)
          require(!fs.exists(dstFile),
            s"merge: $dstFile already exists — was this shard merged twice?")
          require(fs.rename(st.getPath, dstFile),
            s"merge: rename ${st.getPath} -> $dstFile failed")
          val crc = new org.apache.hadoop.fs.Path(from, s".$name.crc")
          if (fs.exists(crc))
            fs.rename(crc, new org.apache.hadoop.fs.Path(to, s".$name.crc"))
        }
      }
    }
    def moveTable(table: String): Unit = {
      val from = new org.apache.hadoop.fs.Path(s"$srcDir/$table")
      val fs = from.getFileSystem(hconf)
      if (fs.exists(from))
        moveFiles(fs, from, new org.apache.hadoop.fs.Path(s"$dstDir/$table"))
    }

    /** The kind's data movement — its vec_id row tables by file rename
      * (plus the shard's tombstones, which are globally valid vec_id
      * facts), then whatever cannot move by rename folds
      * ([[StoreKind.mergeFold]]: sketches bit_or, bm25's df sums).
      */
    def applyMove(dm: Manifest): Unit = {
      dm.kind.rows.foreach(t => moveTable(t.name))
      moveTable("tombstones")
      dm.kind.mergeFold(spark, dstDir, srcDir, dm)
    }

    // CRASH-ATOMICITY PROTOCOL: a `.merge.intent` file (shard path +
    // the destination's pre-merge row count) is written in dst BEFORE
    // any file moves and removed as the LAST step. Every move is a
    // rename, so a crashed merge is RESUMABLE: re-running
    // merge(dst, same shard) moves whatever files remain (already-
    // moved ones are gone from the shard; the duplicate-file check
    // still refuses a genuinely different double merge), deletes the
    // drained shard, and records the epoch against the INTENT's
    // pre-merge count — so the audit delta covers the whole shard, not
    // just the resumed remainder. A merge of a DIFFERENT shard while
    // an intent is pending fails loudly (finish the crashed one
    // first). Residual window: a crash between the epoch write and the
    // intent removal makes the resume record a duplicate merge epoch —
    // visible in the audit log, never a data defect.
    val intent = new org.apache.hadoop.fs.Path(s"$dstDir/.merge.intent")
    val dstFs = intent.getFileSystem(hconf)
    val srcRoot = new org.apache.hadoop.fs.Path(srcDir)
    val srcFs = srcRoot.getFileSystem(hconf)

    def readIntent(): Option[(String, Long)] =
      if (!dstFs.exists(intent)) None
      else {
        val in = dstFs.open(intent)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.split("\n", 2) match {
          case Array(src, before) => Some((src, before.trim.toLong))
          case _ => throw new IllegalStateException(
            s"$intent is unreadable; reconcile manually, then delete it")
        }
      }

    def body(): Unit = {
      val dm = readManifest(spark, dstDir)
      val primary = dm.kind.primary
      readIntent() match {
        case Some((pendingSrc, _)) if pendingSrc != srcDir =>
          throw new IllegalStateException(
            s"$dstDir has an unfinished merge of '$pendingSrc' (crashed " +
              "mid-merge). Complete it first by re-running " +
              s"merge($dstDir, $pendingSrc) — moves are rename-idempotent " +
              "— then retry this one.")
        case Some((_, before)) =>
          // RESUME the crashed merge of this same shard
          if (srcFs.exists(srcRoot)) {
            validate(dm)
            applyMove(dm)
            srcFs.delete(srcRoot, true)
          }
          recordEpoch(spark, dstDir, "merge",
            diskRows(spark, s"$dstDir/$primary") - before)
          dstFs.delete(intent, false)
        case None =>
          validate(dm)
          val before = diskRows(spark, s"$dstDir/$primary")
          // create-if-absent: two racing merges into dst can't both
          // stamp an intent (belt to the write lock's suspenders)
          val out = dstFs.create(intent, false)
          try out.write(s"$srcDir\n$before".getBytes("UTF-8"))
          finally out.close()
          applyMove(dm)
          srcFs.delete(srcRoot, true)
          recordEpoch(spark, dstDir, "merge",
            diskRows(spark, s"$dstDir/$primary") - before)
          dstFs.delete(intent, false)
      }
    }

    // BOTH directories lock (path-ordered, deadlock-free): merge reads
    // and finally DELETES the shard, so a racing appendDurable into it
    // must fail loudly on the shard's lock rather than lose its rows
    // with the directory. On a resume after the shard was already
    // consumed, only dst's lock exists to take.
    if (srcFs.exists(srcRoot)) withWriteLocks(spark, dstDir, srcDir)(body())
    else withWriteLock(spark, dstDir)(body())
  }

  /** Clear the debris a crash mid-rewrite can leave — `.compact` temp
    * dirs (abandoned rewrites) and `.old` aside dirs (committed
    * [[swapInto]]s that crashed before their final delete) — after a
    * RESTORE pass that guarantees vacuum never deletes the sole copy
    * of a table: an aside or temp dir whose live sibling is MISSING
    * (a crash between [[swapInto]]'s renames) is renamed back into
    * place (`.old` preferred — it is the pre-rewrite original; a
    * `.compact` is restored only when no live and no `.old` exist,
    * i.e. it is provably the only complete copy). Returns the number
    * of dirs removed or restored; records a `vacuum` epoch when
    * anything was. Safe to run any time.
    */
  def vacuum(spark: SparkSession, dir: String): Int =
    withWriteLock(spark, dir) {
      val touched = debrisSweep(spark, dir)
      if (touched > 0)
        recordEpoch(spark, dir, "vacuum", touched.toLong)
      touched
    }

  /** [[vacuum]]'s restore + debris body, lock-free so [[repair]] can
    * run it under its own write lock (the lock is not reentrant).
    */
  private def debrisSweep(spark: SparkSession, dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def liveOf(p: org.apache.hadoop.fs.Path, suffix: String) =
      new org.apache.hadoop.fs.Path(root,
        p.getName.stripSuffix(suffix))
    val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
    // restore pass: .old first (the pre-rewrite original), then a
    // .compact that is the only copy left
    var touched = 0
    dirs.filter(_.getName.endsWith(".old")).foreach { p =>
      val live = liveOf(p, ".old")
      if (!fs.exists(live)) {
        require(fs.rename(p, live),
          s"vacuum: restore $p -> $live failed; recover manually")
        touched += 1
      }
    }
    dirs.filter(_.getName.endsWith(".compact")).foreach { p =>
      val live = liveOf(p, ".compact")
      if (!fs.exists(live)) {
        require(fs.rename(p, live),
          s"vacuum: restore $p -> $live failed; recover manually")
        touched += 1
      }
    }
    // per-bucket aside dirs (a partial df fold's crash residue):
    // restore any bucket missing from the live table, drop the rest
    dirs.filter(_.getName.endsWith(".oldparts")).foreach { p =>
      restoreOldParts(fs, liveOf(p, ".oldparts"))
      touched += 1
    }
    // debris pass: whatever remains has a live sibling — safe to drop
    fs.listStatus(root).filter(s => s.isDirectory && {
      val n = s.getPath.getName
      n.endsWith(".compact") || n.endsWith(".old")
    }).foreach { s => fs.delete(s.getPath, true); touched += 1 }
    touched
  }

  /** Count of ids with MORE than one row in a vec_id-keyed table —
    * the replayed-append residue (a retry after a crash re-appends
    * rows the first attempt already landed). One map-side-combinable
    * count; shared by [[describe]]`(deep = true)` and [[repair]].
    */
  private def duplicateIdCount(table: DataFrame): Long =
    table.groupBy(col("vec_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()

  /** Rewrite a vec_id-keyed table keeping ONE row per id — the heal
    * for the replayed-append residue ([[duplicateIdCount]]; replayed
    * rows are byte-identical derivations of the same input, so
    * keeping any one is exact). The standard temp + [[swapInto]]
    * protocol; `partCols` filter to those actually present, so one
    * helper rewrites a flat pq corpus, a cell-partitioned ivfpq code
    * table, or a bucketed lsh sig table following its stored layout.
    */
  private def dedupIdsRewrite(spark: SparkSession, dir: String,
                              table: String,
                              partCols: Seq[String]): Unit = {
    val raw = spark.read.parquet(s"$dir/$table")
    val pc = partCols.filter(raw.columns.contains)
    val dd = raw.dropDuplicates("vec_id")
    rewriteTable(spark, dir, table)(tmp =>
      if (pc.nonEmpty)
        bucketAligned(dd, pc, "vec_id")
          .write.mode(SaveMode.Overwrite)
          .partitionBy(pc: _*).parquet(tmp)
      else dd.write.mode(SaveMode.Overwrite).parquet(tmp))
  }

  /** Distinct vec_ids of `table` with no row in `commit` — a crashed
    * append's partial landing: bm25 postings without their doclen
    * commit point, pq corpus vectors without codes. Shared by
    * [[describe]]`(deep = true)` and [[repair]].
    */
  private def idsMissingFrom(spark: SparkSession, dir: String,
                             table: String, commit: String): DataFrame =
    spark.read.parquet(s"$dir/$table").select(col("vec_id")).distinct()
      .join(spark.read.parquet(s"$dir/$commit").select(col("vec_id")),
        Seq("vec_id"), "left_anti")

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** FSCK + heal for a saved index directory — ONE call that turns
    * the crashed-append recovery recipes into an operation. Always
    * runs [[vacuum]]'s restore/debris sweep (without needing a
    * separate call), then the kind's own heals
    * ([[StoreKind.heal]] — each the write side of a
    * [[describe]]`(deep = true)` check):
    *
    *  - `bm25` completes an interrupted partial df fold, removes
    *    orphaned postings rows (vec_ids with no doclen row — on the
    *    denormalized layout silently SCOREABLE) and revalidates the
    *    persisted corpus stats;
    *  - `pq` re-encodes corpus ids MISSING FROM CODES (the
    *    corpus-first append's crash strand) from (corpus, codebooks)
    *    — a pure function, so healed ≡ never-crashed; `pq` and
    *    `ivfpq` dedup DUPLICATE ids (the blind-retry residue a
    *    `requireNewIds = false` producer can leave);
    *  - `lsh` / `phash` check every primary row's BAND COVERAGE and
    *    rebuild the band table and its key sketch from the primary (no
    *    data loss); a duplicated primary id dedups first, so the
    *    rebuild derives from the healed table and a healthy store
    *    repairs to an EMPTY report.
    *
    * The manifest is read (and validated) first: a store of an
    * unknown kind or a newer layout fails loudly before anything is
    * swept. Returns the report: one (issue, n, action) row per
    * finding — empty on a healthy store. Records a `repair` epoch
    * when anything was healed. Cost: the orphan check is one
    * distinct-ids semi-join (vec_id columns only); the heals rewrite
    * only what a [[compact]] would. Facade:
    * [[graft.api.Graft.repairIndex]].
    */
  def repair(spark: SparkSession, dir: String): DataFrame =
    withWriteLock(spark, dir) {
      import spark.implicits._
      val man = readManifest(spark, dir)
      val swept = debrisSweep(spark, dir)
      val report =
        (if (swept > 0) Seq(("debris_dirs", swept.toLong, "restored_or_removed"))
         else Nil) ++ man.kind.heal(spark, dir, man)
      if (report.nonEmpty)
        recordEpoch(spark, dir, "repair", report.map(_._2).sum)
      report.toDF("issue", "n", "action")
    }

  // ------------------------------------------------------------------
  // Generations (blue/green publish)
  // ------------------------------------------------------------------

  /** PUBLISH a built index directory as the next GENERATION under
    * `root` — the blue/green seam the retrain lifecycle needs:
    * `retrainIf` returns a live handle, `save(buildDir)` freezes it,
    * and publish makes it current ATOMICALLY without ever touching
    * the directory readers are serving from (a multi-table in-place
    * swap cannot be atomic; a pointer flip can).
    *
    * Layout: `root/g-<n>/` are complete store directories; an empty
    * `_PUBLISHED` marker INSIDE a generation makes it visible, and
    * "current" = the highest-numbered published generation
    * ([[currentGeneration]]). Publish = one rename of `buildDir` into
    * `root/g-<next>/` (same filesystem — renames, not copies) + one
    * marker create, in that order — so a crash between them leaves a
    * complete-but-invisible generation (readers keep resolving the
    * old one; re-running `publish(root, "root/g-<n>")` just stamps
    * the marker). Readers NEVER lock: a handle loaded from a resolved
    * generation keeps serving that directory bit-for-bit while newer
    * generations publish — no reader can observe a mixed generation,
    * because no generation is ever mutated after publish (appends
    * belong in the build step of the NEXT generation).
    *
    * Returns the published generation number. Concurrent publishes
    * serialize on root's write lock.
    */
  def publishGeneration(spark: SparkSession, root: String,
                        buildDir: String): Int = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) fs.mkdirs(rootPath)
    withWriteLock(spark, root) {
      val build = new org.apache.hadoop.fs.Path(buildDir)
      val (gen, dst) =
        if (!fs.exists(build)) {
          // RESUME after a crash between the rename and the marker,
          // retried with the ORIGINAL buildDir (now renamed away): a
          // sole unpublished generation under root can only be that
          // crashed publish's rename target — stamp it. Anything else
          // (none, or several) is ambiguous; fail naming the
          // candidates so the operator can re-publish the right
          // g-<n> explicitly.
          generationsOf(fs, rootPath).filterNot(_._3) match {
            case Seq((n, p, _)) => (n, p)
            case Seq() => throw new IllegalArgumentException(
              s"publish: $buildDir does not exist and $root holds no " +
                "unpublished generation to resume")
            case many => throw new IllegalStateException(
              s"publish: $buildDir does not exist; $root holds " +
                s"${many.length} unpublished generations (" +
                many.map(g => s"g-${g._1}").mkString(", ") +
                ") — re-publish the one you built by its root/g-<n> path")
          }
        } else {
          require(
            fs.exists(new org.apache.hadoop.fs.Path(build, "manifest")),
            s"publish: $buildDir holds no manifest — not a saved index")
          val gens = generationsOf(fs, rootPath)
          // resume path: the build dir IS an unpublished generation (a
          // crash after the rename, before the marker) — just stamp it
          val resumed = gens.find { case (_, p, _) =>
            org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(p)
              .toString ==
              org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
                build).toString
          }
          resumed match {
            case Some((n, p, _)) => (n, p)
            case None =>
              val next = (gens.map(_._1) :+ 0).max + 1
              val dst = new org.apache.hadoop.fs.Path(rootPath, s"g-$next")
              require(fs.rename(build, dst),
                s"publish: rename $buildDir -> $dst failed (same filesystem required)")
              (next, dst)
          }
        }
      val marker = new org.apache.hadoop.fs.Path(dst, "_PUBLISHED")
      if (!fs.exists(marker)) fs.create(marker, false).close()
      gen
    }
  }

  private def generationsOf(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path)
      : Seq[(Int, org.apache.hadoop.fs.Path, Boolean)] =
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("g-"))
      .flatMap { s =>
        s.getPath.getName.stripPrefix("g-").toIntOption.map { n =>
          (n, s.getPath,
            fs.exists(new org.apache.hadoop.fs.Path(s.getPath,
              "_PUBLISHED")))
        }
      }

  /** The CURRENT generation under a [[publishGeneration]] root —
    * (generation number, directory) of the highest-numbered PUBLISHED
    * generation; None if nothing is published yet. One filesystem
    * listing — resolve once per handle open, exactly like opening a
    * store directory.
    */
  def currentGeneration(spark: SparkSession, root: String)
      : Option[(Int, String)] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) None
    else generationsOf(fs, rootPath).filter(_._3)
      .sortBy(_._1).lastOption.map { case (n, p, _) => (n, p.toString) }
  }

  /** [[currentGeneration]], failing loudly if nothing is published. */
  private[graft] def requireCurrentGeneration(spark: SparkSession,
                                              root: String): (Int, String) =
    currentGeneration(spark, root).getOrElse(throw new IllegalStateException(
      s"$root holds no published index generation"))

  /** The generation cache of a live stream bound to a
    * [[publishGeneration]] root: [[resolve]] re-resolves the current
    * generation (one listing) and reopens it with `open` only when the
    * generation number changed — a blue/green swap flips the stream on
    * its next batch, steady-state batches reuse the open handle. Call
    * it once per micro-batch, so no batch mixes generations.
    * foreachBatch bodies run sequentially on the stream's micro-batch
    * thread, so the plain mutable state is safe.
    */
  private[graft] final class GenerationCache[T](root: String,
      open: (SparkSession, String) => T) {
    private var cached: Option[(Int, T)] = None

    def resolve(spark: SparkSession): (Int, T) = {
      val (gen, dir) = requireCurrentGeneration(spark, root)
      if (!cached.exists(_._1 == gen)) cached = Some((gen, open(spark, dir)))
      cached.get
    }
  }

  /** Introspect a [[publishGeneration]] root — one row per
    * generation: (generation, kind, published, current, bytes,
    * n_files, holder, heartbeat_age_ms, stale_suspect). The
    * blue/green operational answers in one frame: which generation
    * serves ("current" = the highest PUBLISHED one — exactly
    * [[currentGeneration]]'s resolve), what an unpublished directory
    * is (a crashed publish to resume, or an abandoned build to
    * delete), how much disk the old blues hold (the
    * [[vacuumGenerations]] signal), and — via [[lockInfo]]'s three
    * columns, null on unlocked generations — whether a generation is
    * MID-WRITE and whether its writer is still heartbeating
    * (`stale_suspect = true` on an unpublished generation means the
    * build presumably crashed; on a published one, a stuck
    * append/compact). Triage is one call. Bytes/files are a
    * filesystem walk per generation; `kind` comes from each
    * generation's one-row manifest — read in ONE batched parquet job
    * across all generations (manifest rows are data reads, small as
    * they are; per-generation reads are the fallback when the batch
    * read fails, and a generation with no/unreadable manifest shows
    * kind = null rather than throwing, since a half-written build dir
    * is precisely what an operator needs to SEE). Empty frame when
    * the root holds no generations.
    */
  def describeGenerations(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = if (!fs.exists(rootPath)) Seq.empty
               else generationsOf(fs, rootPath).sortBy(_._1)
    val current = gens.filter(_._3).map(_._1).sorted.lastOption
    val withManifest = gens.filter { case (_, p, _) =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "manifest"))
    }
    // one spark job for ALL generations' kinds; input_file_name maps
    // each manifest row back to its g-<n> dir
    val kinds: Map[Int, String] = {
      val genOfPath = withManifest.map { case (n, p, _) =>
        org.apache.hadoop.fs.Path
          .getPathWithoutSchemeAndAuthority(p).toString -> n
      }.toMap
      def genOf(file: String): Option[Int] = {
        val noScheme = org.apache.hadoop.fs.Path
          .getPathWithoutSchemeAndAuthority(
            new org.apache.hadoop.fs.Path(file)).toString
        genOfPath.collectFirst {
          case (dir, n) if noScheme.startsWith(dir + "/") => n
        }
      }
      if (withManifest.isEmpty) Map.empty
      else scala.util.Try {
        spark.read.parquet(withManifest.map(g => s"${g._2}/manifest"): _*)
          .select(col("kind"), input_file_name().as("f"))
          .collect()
          .flatMap(r => genOf(r.getString(1)).map(_ -> r.getString(0)))
          .toMap
      }.getOrElse {
        // fallback: per-generation reads, unreadable ⇒ absent (null)
        withManifest.flatMap { case (n, p, _) =>
          scala.util.Try(spark.read.parquet(s"$p/manifest")
            .select(col("kind")).head().getString(0)).toOption.map(n -> _)
        }.toMap
      }
    }
    gens.map { case (n, p, published) =>
      val sum = fs.getContentSummary(p)
      val lock = lockInfo(spark, p.toString)
      (n, kinds.get(n), published, current.contains(n),
        sum.getLength, sum.getFileCount,
        lock.map(_._1), lock.map(_._2), lock.map(_._3))
    }.toDF("generation", "kind", "published", "current",
      "bytes", "n_files", "holder", "heartbeat_age_ms", "stale_suspect")
  }

  /** Drop PUBLISHED generations older than the newest `keep` — the
    * old-blue cleanup after a green generation proves out. Refuses
    * `keep < 1` (never deletes the current generation) and never
    * touches UNPUBLISHED directories (a crash-before-marker build is
    * completed by re-publishing it, not vacuumed — delete it
    * explicitly if abandoned). A MINIMUM-AGE GRACE WINDOW
    * (`spark.graft.vacuumGenerationGraceMs`, default 1 h; the
    * ContentAddressedStore sweep-grace pattern) additionally refuses
    * to delete any generation whose NEWER sibling was published more
    * recently than the window: the generation-aware serving streams
    * re-resolve the current generation once per micro-batch, so a
    * vacuum racing a fleet's flip could otherwise delete the old blue
    * while a straggler batch is still scanning it. The age that
    * matters is the SUCCESSOR's publish time (a generation is safe to
    * drop only once everything has had time to flip PAST it), read
    * from the successor's `_PUBLISHED` marker mtime. Set the conf to
    * 0 to restore unconditional semantics (e.g. in a drained
    * maintenance window). Serving readers stopped before the vacuum
    * are safe regardless — the window is for the ones still running.
    * Returns the number of generations removed.
    */
  def vacuumGenerations(spark: SparkSession, root: String,
                        keep: Int = 1): Int = {
    require(keep >= 1, s"vacuumGenerations: keep must be >= 1, got $keep")
    val graceMs = spark.conf
      .getOption("spark.graft.vacuumGenerationGraceMs")
      .map(_.toLong).getOrElse(3600000L)
    require(graceMs >= 0,
      s"spark.graft.vacuumGenerationGraceMs must be >= 0, got $graceMs")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return 0
    withWriteLock(spark, root) {
      val published = generationsOf(fs, rootPath).filter(_._3)
        .sortBy(_._1)
      def publishedAt(p: org.apache.hadoop.fs.Path): Long =
        try fs.getFileStatus(
          new org.apache.hadoop.fs.Path(p, "_PUBLISHED"))
          .getModificationTime
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      val now = System.currentTimeMillis()
      val (dropPairs, graced) = published.dropRight(keep).zipWithIndex
        .partition { case (_, i) =>
          // successor = the next published generation (always exists —
          // dropRight(keep >= 1) guarantees at least one newer)
          val succ = published(i + 1)._2
          now - publishedAt(succ) >= graceMs
        }
      val drop = dropPairs.map(_._1)
      // say WHY nothing (or less than expected) was deleted — an
      // operator vacuuming right after a flip otherwise can't tell
      // "nothing to vacuum" from "still inside the grace window"
      if (graced.nonEmpty)
        System.err.println(s"[graft] vacuumGenerations($root): " +
          s"${graced.length} candidate generation(s) skipped — their " +
          s"successor published under ${graceMs} ms ago " +
          "(spark.graft.vacuumGenerationGraceMs); re-run after the " +
          "grace window")
      drop.foreach { case (_, p, _) => fs.delete(p, true) }
      drop.length
    }
  }

  /** Introspection: one row per stored table — (kind, version, table,
    * n_rows, n_files, bytes, holder, heartbeat_age_ms, stale_suspect).
    * Row counts are footer-metadata reads; file/byte counts are a
    * filesystem walk. The operational answer to "how big is this
    * index and does it need a [[compact]]" (many files per row ⇒
    * yes). When another writer HOLDS the store's lock, one extra
    * `_write_lock` row carries [[lockInfo]]'s observability columns —
    * `stale_suspect = true` flags a holder that stopped
    * heartbeating (presumed crashed; confirm, then [[breakLock]]);
    * the three columns are null on every table row and the row is
    * absent on an unlocked store. Table rows follow the kind's
    * declared [[StoreKind.tables]] order, then tombstones and epochs.
    * `deep = true` adds the kind's integrity rows a metadata walk
    * can't see ([[StoreKind.deepChecks]] — e.g. bm25's
    * `_orphan_postings_ids`, lsh/phash's
    * `_band_coverage_inconsistent_ids`) — each the crashed-append
    * signature [[repair]] heals, at the cost of one vec_id-column pass
    * over the store; the default stays metadata-speed. Facade:
    * [[graft.api.Graft.describeIndex]].
    */
  def describe(spark: SparkSession, dir: String,
               deep: Boolean = false): DataFrame = {
    import spark.implicits._
    val man = readManifest(spark, dir)
    val (kind, version) = (man.kind.name, man.version)
    val hconf = spark.sparkContext.hadoopConfiguration
    val none = (None: Option[String], None: Option[Long],
      None: Option[Boolean])
    val rows = (man.kind.tables ++ Seq("tombstones", "epochs")).flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) None
      else {
        val sum = fs.getContentSummary(p)
        Some((kind, version, t, diskRows(spark, s"$dir/$t"),
          sum.getFileCount, sum.getLength, none._1, none._2, none._3))
      }
    }
    val lockRow = lockInfo(spark, dir).map { case (holder, age, stale) =>
      (kind, version, "_write_lock", 0L, 1L, 0L,
        Some(holder), Some(age), Some(stale))
    }
    val deepRows =
      if (!deep) Nil
      else man.kind.deepChecks(spark, dir).map { case (check, n) =>
        (kind, version, check, n, 0L, 0L, none._1, none._2, none._3)
      }
    (rows ++ deepRows ++ lockRow).toDF("kind", "version", "table",
      "n_rows", "n_files", "bytes", "holder", "heartbeat_age_ms",
      "stale_suspect")
  }

  // ------------------------------------------------------------------
  // pHash (durable perceptual-hash index — media dedup)
  // ------------------------------------------------------------------

  /** The pHash layout's banded projection with its probe-bucket
    * partition column: one row per (object, band) — the 5-band
    * 13/13/13/13/12-bit chunks of [[graft.operators.MultimodalQueries
    * .phashBandChunks]], with `lo`/`hi` riding along so a screen
    * verifies Hamming INLINE on the pruned scan (no second table
    * touch) — partitioned by `pb = band · n + pmod(chunk, n)` (one
    * column encodes both, so a probe prunes with a single isin over
    * its batch's literal pb values; chunk bits are hash-uniform, so
    * pmod spreads them without re-hashing).
    */
  private def phashBandRows(hashes: DataFrame, nb: Int): DataFrame =
    hashes.select(col("vec_id"), col("lo"), col("hi"),
        explode(graft.operators.MultimodalQueries
          .phashBandChunks(col("lo"), col("hi"))).as("b"))
      .select(col("vec_id"), col("lo"), col("hi"),
        col("b.band").as("band"), col("b.chunk").as("chunk"),
        (col("b.band") * nb + pmod(col("b.chunk"), lit(nb.toLong)))
          .cast("int").as("pb"))

  /** The pHash store's BAND-KEY Bloom sketch — the LSH `bkbloom`
    * mirrored onto media: a Bloom over every stored (band, chunk)
    * key, probed by an incoming batch's band keys BEFORE any stored
    * file is touched. A key the sketch rejects provably matches NO
    * stored bucket (no false negatives), so a batch of novel media
    * costs its own banding plus a broadcast sketch probe and reads
    * ZERO stored files; false positives only add probes — verdicts
    * are unchanged by construction (ProbePruningSpec pins it).
    * Rebuilt from the band rows on [[compact]] (pure function),
    * bit_or-folded on append/merge; the bit size rides in the
    * manifest's `m_bits` (0 = pre-sketch store, no sketch to probe).
    */
  private def pbkeySketchOf(bands: DataFrame, mBits: Int): DataFrame =
    graft.operators.DedupQueries.BloomSketch.sketchOf(
      bands.select(concat_ws(":", col("band"), col("chunk")).as("h")),
      mBits)

  /** Layout: `hashes/` = (vec_id, lo, hi) — the canonical 64-bit
    * aHash table, 16 bytes a media object; decode happens ONCE at
    * build/append (hashing is a pure function of the payload).
    * Bucketed (v2) stores ADD `bands/` — the 5-band LSH projection
    * partitioned by `pb` — so a screen prunes its scan to the batch's
    * buckets' files instead of banding the whole hash table per
    * micro-batch; `bands/` is a pure function of `hashes/` (5 rows ×
    * 24 B per object), rebuilt rather than healed on [[compact]] —
    * plus `pbbloom/` = the [[pbkeySketchOf]] band-key Bloom, the
    * zero-I/O prefilter for definitely-novel batches.
    */
  def savePhash(dir: String, hashes: DataFrame): Unit = {
    val spark = hashes.sparkSession
    withWriteLock(spark, dir) {
      // hashes land FIRST, then everything derived reads the WRITTEN
      // table — the row count rides the write itself and the band
      // projection never re-runs the caller's decode plan
      val (hObs, hN) = observedCount(
        hashes.select(col("vec_id"), col("lo"), col("hi")))
      hObs.write.mode(SaveMode.Overwrite).parquet(s"$dir/hashes")
      val stored = spark.read.parquet(s"$dir/hashes")
        .select(col("vec_id"), col("lo"), col("hi"))
      // 5 band rows per hash — the same estimate sizes the bucket
      // modulus AND the band-key Bloom (see [[storeBloomBits]]);
      // lazy so a double conf override never reads the metric
      lazy val estKeys = hN() * 5
      val nb = probeBucketsFor(spark, estKeys)
      val bloomBits =
        if (nb > 0) storeBloomBits(spark, estKeys)
        else 0
      if (nb > 0) {
        val bands = phashBandRows(stored, nb)
        // files ≈ buckets (× write salt), not tasks × buckets — the
        // estKeys already in hand sizes the salt ([[bucketAligned]]).
        // The pb dir count is nb × 5 (band rides in the partition
        // value), so the salt divides by the TRUE dir count — the
        // compact path's `nBuckets * 5` rule, matched here
        bucketAligned(bands, Seq("pb"), "vec_id", estKeys, nb * 5)
          .write.mode(SaveMode.Overwrite)
          .partitionBy("pb").parquet(s"$dir/bands")
        pbkeySketchOf(spark.read.parquet(s"$dir/bands"), bloomBits)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/pbbloom")
      }
      writeManifest(spark, dir, Phash, bloomBits.toLong, nb.toLong)
      recordEpoch(spark, dir, "save", hN())
    }
  }

  /** DURABLE append for the pHash layout — one parquet append of the
    * arrivals' hashes (plus their band rows on a bucketed store,
    * landing only under their buckets' dirs); the stored rows are
    * never rewritten. Bucket modulus follows the STORED layout. The
    * band-key Bloom folds FIRST (the appendLsh ordering: a crash
    * after the fold leaves an over-approximating sketch — FP-only
    * cost — whereas folding last could strand stored rows the sketch
    * rejects, silently losing their true near-dups).
    */
  def appendPhash(dir: String, hashesNew: DataFrame): Unit = {
    val spark = hashesNew.sparkSession
    val man = readManifest(spark, dir, Phash)
    val nb = man.n_buckets.toInt
    val mBits = man.m_bits.toInt
    withWriteLock(spark, dir) {
      val bandsNew =
        if (nb > 0)
          Some(phashBandRows(hashesNew.select(col("vec_id"), col("lo"),
            col("hi")), nb).localCheckpoint(eager = false))
        else None
      bandsNew.filter(_ => mBits > 0).foreach(bn => foldSketch(spark, dir,
        "pbbloom", pbkeySketchOf(bn, mBits), oneFile = true))
      val (hObs, hN) = observedCount(
        hashesNew.select(col("vec_id"), col("lo"), col("hi")))
      hObs.write.mode(SaveMode.Append).parquet(s"$dir/hashes")
      bandsNew.foreach(bn => bucketAligned(bn, Seq("pb"), "vec_id")
        .write.mode(SaveMode.Append)
        .partitionBy("pb").parquet(s"$dir/bands"))
      recordEpoch(spark, dir, "append", hN())
    }
  }

  /** (vec_id, lo, hi) — tombstoned media ([[delete]]) anti-joined. */
  def loadPhash(spark: SparkSession, dir: String): DataFrame = {
    readManifest(spark, dir, Phash)
    maskTombstones(spark, dir, spark.read.parquet(s"$dir/hashes")
      .select(col("vec_id"), col("lo"), col("hi")))
  }

  /** The banded projection of a bucketed pHash store, tombstone-
    * masked, with its `pb` partition column and the bucket modulus —
    * None for an unbucketed (v1) store, where screens fall back to
    * banding [[loadPhash]]'s table in-plan.
    */
  def loadPhashBands(spark: SparkSession, dir: String)
      : Option[(DataFrame, Int)] = {
    val nb = readManifest(spark, dir, Phash).n_buckets.toInt
    if (nb <= 0) None
    else Some((maskTombstones(spark, dir,
      spark.read.parquet(s"$dir/bands")
        .select(col("vec_id"), col("lo"), col("hi"), col("band"),
          col("chunk"), col("pb").cast("int"))), nb))
  }

  /** The stored pHash band-key Bloom — ((w, word) frame, bit size);
    * None for pre-sketch stores (manifest `m_bits` = 0). Like the LSH
    * sketch it may over-approximate after deletes (Blooms cannot
    * forget) — SAFE: extra probes, never a lost verdict; [[compact]]
    * rebuilds it exactly.
    */
  def loadPhashPbBloom(spark: SparkSession, dir: String)
      : Option[(DataFrame, Int)] = {
    val mBits = readManifest(spark, dir, Phash).m_bits.toInt
    val p = new org.apache.hadoop.fs.Path(s"$dir/pbbloom")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (mBits <= 0 || !fs.exists(p)) None
    else Some((spark.read.parquet(p.toString)
      .select(col("w"), col("word"))
      // once-per-handle materialization, as loadLsh's bkbloom
      .localCheckpoint(eager = false), mBits))
  }

  // ------------------------------------------------------------------
  // BM25 (durable postings index — lexical retrieval)
  // ------------------------------------------------------------------

  /** The BM25 layout's probe-bucket column: `tb = pmod(hash(tok),
    * n_buckets)` on both token-keyed tables — a search's query terms
    * derive their buckets with the same expression and prune the
    * postings/df scans to the matching partition dirs.
    */
  private def bm25WithTb(df: DataFrame, nb: Int,
                         cols: Seq[String]): DataFrame =
    df.select(cols.map(col) :+
      pmod(hash(col("tok")), lit(nb)).as("tb"): _*)

  /** Persist the BM25 corpus stats — one row (n_docs, sum_dl) — via
    * the standard temp + [[swapInto]] protocol. The two scalars are
    * FOLDABLE (append adds the batch's count/Σdl, [[delete]] subtracts
    * the newly-tombstoned docs'; compact recomputes from the surviving
    * doclen), so a reopened handle seeds its (N, avgdl) from this
    * table instead of re-aggregating the doc-count-sized doclen — the
    * round-14 serving win, extended to the append→reopen cycle in
    * round 15 and the delete→reopen cycle in round 16 (a billion-row
    * scan per lifecycle op at 100 TB otherwise). The INVARIANT every
    * writer upholds: the row equals the aggregate of the LIVE (i.e.
    * tombstone-masked) doclen. `live_only = true` marks a row written
    * under that invariant — a pre-round-16 row lacks the column, and
    * its value includes any then-tombstoned docs, so loaders must
    * subtract them ([[loadBm25]]'s lazy fallback fold). `sum_dl` is
    * the EXACT long Σdl: doc lengths are integers, so
    * `sum_dl.toDouble / n_docs` is bit-identical to the in-plan
    * `avg(dl)` (double sums of integers are exact below 2^53 —
    * ~2.5e13 tokens at 100 TB of text, three orders under it).
    */
  private val bm25StatsSchema =
    """message stats {
      |  required int64 n_docs;
      |  required int64 sum_dl;
      |  required boolean live_only;
      |}""".stripMargin

  private def writeBm25Stats(spark: SparkSession, dir: String,
                             n: Long, sumDl: Long): Unit =
    tinyWrite(spark, s"$dir/stats", tinySchema(bm25StatsSchema),
      Seq(g => {
        g.add("n_docs", n); g.add("sum_dl", sumDl)
        g.add("live_only", true)
      }))

  /** (n_docs, Σdl, live_only) from the stats table; None when absent
    * (a store saved before the stats table existed — loaders fall
    * back to the doclen aggregate, appends upgrade it in place).
    * `live_only = false` marks a pre-round-16 row whose value counts
    * then-tombstoned docs (see [[writeBm25Stats]]).
    */
  private[sources] def readBm25Stats(spark: SparkSession, dir: String)
      : Option[(Long, Long, Boolean)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val g = tinyRead(spark, p.toString).head
      Some((g.getLong("n_docs", 0), g.getLong("sum_dl", 0),
        g.getType.containsField("live_only") &&
          g.getBoolean("live_only", 0)))
    }
  }

  /** The exact (count, Σdl) aggregate over a doclen frame — the stats
    * table's ground truth (save seeds it, compact/repair recompute it,
    * appends fold the same aggregate of the batch into it).
    */
  private def doclenStatsOf(doclen: DataFrame): (Long, Long) = {
    val r = doclen.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The stats invariant's ground truth: (count, Σdl) over the LIVE
    * (tombstone-masked) doclen — what [[writeBm25Stats]]'s row must
    * equal. One narrow two-column scan; shared by [[repair]],
    * [[merge]], [[describe]]`(deep)` and the pre-round-16 upgrade
    * paths.
    */
  private def maskedDoclenStats(spark: SparkSession, dir: String)
      : (Long, Long) =
    doclenStatsOf(maskTombstones(spark, dir,
      spark.read.parquet(s"$dir/doclen")
        .select(col("vec_id"), col("dl"))))

  /** (count, Σdl) of the doclen rows whose `vec_id` is in `ids` — the
    * NEGATIVE fold's increment ([[delete]] subtracts it, a loaded
    * handle's fallback seed subtracts the tombstone set's). Id-pruned:
    * the stored side pre-filters to the batch's [min, max] id range (a
    * pushed predicate parquet row-group stats prune), then a broadcast
    * semi-join — ids-batch-sized work, never an unpruned corpus scan.
    */
  private def doclenStatsOfIds(spark: SparkSession, dir: String,
                               ids: DataFrame): (Long, Long) = {
    val rng = ids.agg(min(col("vec_id")).as("lo"),
      max(col("vec_id")).as("hi")).collect()(0)
    if (rng.isNullAt(0)) (0L, 0L)
    else doclenStatsOf(
      spark.read.parquet(s"$dir/doclen")
        .filter(col("vec_id").between(rng.getLong(0), rng.getLong(1)))
        .join(broadcast(ids.select(col("vec_id"))),
          Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("dl")))
  }

  /** Whether the stored postings carry the denormalized `dl` column —
    * read from ONE leaf file's footer instead of opening the table
    * (whose partition discovery lists every bucket dir: an O(nb)
    * listing per append, measured as a real share of the x100 append
    * wall). The layout flag is uniform across the table by
    * construction (save/append/rewrite all write every row the same
    * way), so one footer is authoritative.
    */
  private def postingsHasDl(spark: SparkSession, dir: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/postings")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstFile(p: org.apache.hadoop.fs.Path, depth: Int)
        : Option[org.apache.hadoop.fs.Path] = {
      val st = fs.listStatus(p).sortBy(_.getPath.getName.toString)
      st.collectFirst {
        case s if s.isFile && s.getPath.getName.startsWith("part-") =>
          s.getPath
      }.orElse(if (depth <= 0) None
        else st.filter(_.isDirectory).iterator
          .flatMap(d => firstFile(d.getPath, depth - 1)).nextOption())
    }
    firstFile(root, 2) match {
      case Some(f) =>
        spark.read.parquet(f.toString).schema.fieldNames.contains("dl")
      case None => // empty table — fall back to the full-table schema
        spark.read.parquet(root.toString).columns.contains("dl")
    }
  }

  /** The partial df fold's INTENT marker: written before the
    * per-bucket swap loop, removed after the last swap commits. A
    * crash inside the loop leaves df MIXED (the batch's df landed in
    * some buckets, not others) with the marker behind — the NEXT
    * append and [[repair]] see it and recompute df from the postings
    * (the one table the fold derives from) instead of folding onto a
    * possibly-inconsistent base. Without the marker the mixed state
    * was silent until an operator noticed idf drift.
    */
  private def bm25FoldIntent(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/df.fold.intent")

  /** Recompute the df table FROM the live postings — [[compact]]'s df
    * logic scoped to df (one map-side-combinable count per term, one
    * bucket-aligned rewrite, one [[swapInto]]). Heals a mixed partial
    * fold and any crashed-append df drift in one pass; shared by
    * [[compact]], by an [[appendBm25]] that finds a pending fold
    * intent, and by [[repair]].
    */
  private def recomputeBm25Df(spark: SparkSession, dir: String,
                              nb: Int): Unit = {
    val dfNew = spark.read.parquet(s"$dir/postings")
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    rewriteTable(spark, dir, "df")(tmp => writeBm25Table(dfNew,
      Seq("tok", "df"), nb, "tok", 0L, SaveMode.Overwrite, tmp))
  }

  /** Write a token-keyed bm25 table's `cols` in the stored layout:
    * `tb`-partitioned and bucket-aligned (salted by `saltCol` when
    * `estRows` is known — [[bucketAligned]]) under a modulus
    * `nb` > 0, flat otherwise.
    */
  private def writeBm25Table(df: DataFrame, cols: Seq[String], nb: Int,
                             saltCol: String, estRows: Long,
                             mode: SaveMode, path: String): Unit =
    if (nb > 0)
      bucketAligned(bm25WithTb(df, nb, cols), Seq("tb"), saltCol,
          estRows, nb)
        .write.mode(mode).partitionBy("tb").parquet(path)
    else df.select(cols.map(col): _*).write.mode(mode).parquet(path)

  /** Whether the persisted corpus-stats row holds against `truth` —
    * the masked doclen aggregate, by-name so it is only computed when
    * a row exists; None when no row is stored. A value-correct
    * pre-round-16 row (live_only absent) with tombstones pending does
    * NOT hold: its value only HAPPENS to match, and the flag is what
    * loaders trust. Shared by [[describe]]`(deep)` and [[repair]].
    */
  private def bm25StatsHold(spark: SparkSession, dir: String,
                            truth: => (Long, Long)): Option[Boolean] =
    readBm25Stats(spark, dir).map { case (n, s, live) =>
      val (gn, gs) = truth
      n == gn && s == gs &&
        (live || !pathExists(spark, s"$dir/tombstones"))
    }

  /** Layout: `postings/` = (vec_id, tok, tf) PARTITIONED BY
    * `tb = pmod(hash(tok), n_buckets)` (query terms derive their
    * buckets with the same expression, so a search scans only the
    * matching dirs' files — the probed-cell trick for lexical
    * retrieval); `doclen/` = (vec_id, dl) flat; `df/` = (tok, df),
    * also tb-partitioned. `df` is an AGGREGATE over the postings —
    * appends fold it (union + sum through a temp-dir swap, the Bloom
    * pattern) rather than appending, and [[compact]] RECOMPUTES it
    * from the compacted postings, which heals both delete staleness
    * and any crashed-append drift.
    *
    * `denormDl = true` — THE DEFAULT since the round-13 measurement
    * settled the trade (PARITY: +15% disk buys a 1.85× smaller
    * per-query read and a join-free serving plan) — ADDITIONALLY
    * carries each document's length `dl` on its postings rows (one
    * doc-keyed join at save time) so search needs NO doclen join at
    * all: the candidates↔doclen shuffle disappears from the serving
    * plan. The trade, unchanged and still documented: a crash
    * mid-append can leave a batch's documents PARTIALLY scoreable
    * (some postings rows landed, each self-sufficient), whereas the
    * normalized layout keeps `doclen` as the commit point
    * (unscoreable until the batch fully lands). Pass
    * `denormDl = false` for write-heavy stores whose ingest is not
    * idempotent-replay guarded (checkpointed streams are); existing
    * stores migrate either way IN PLACE with [[rewriteBm25Layout]]
    * (gate e52).
    */
  def saveBm25(dir: String, postings: DataFrame, doclen: DataFrame,
               df: DataFrame, denormDl: Boolean = true): Unit = {
    val spark = postings.sparkSession
    // auto-sizing counts the probed table (one extra pass, once per
    // build); a conf override skips the count entirely — and then
    // also skips the write salt, keeping the no-count contract
    val confNb = spark.conf.getOption("spark.graft.probeBuckets")
      .map(_.toInt)
    lazy val pRows = postings.count()
    val nb = confNb.getOrElse(autoProbeBuckets(pRows))
    val estRows = if (confNb.isEmpty) pRows else 0L
    withWriteLock(spark, dir) {
      val p0 =
        if (!denormDl) postings.select(col("vec_id"), col("tok"), col("tf"))
        else if (postings.columns.contains("dl"))
          postings.select(col("vec_id"), col("tok"), col("tf"), col("dl"))
        else postings.select(col("vec_id"), col("tok"), col("tf"))
          .join(doclen.select(col("vec_id"), col("dl")), Seq("vec_id"))
      val pCols = Seq("vec_id", "tok", "tf") ++
        (if (denormDl) Seq("dl") else Nil)
      // bucketed: shuffle-aligned to the bucket dirs — files ≈
      // buckets (× write salt from the row count already in hand),
      // not tasks × buckets ([[bucketAligned]]; the measured e48 ×100
      // save regression was exactly this amplification)
      writeBm25Table(p0, pCols, nb, "vec_id", estRows,
        SaveMode.Overwrite, s"$dir/postings")
      writeBm25Table(df, Seq("tok", "df"), nb, "tok", 0L,
        SaveMode.Overwrite, s"$dir/df")
      // a full save is a FRESH store: clear any tombstone table the
      // overwritten store left behind — lingering tombstones would
      // silently mask same-id docs of the NEW corpus and break the
      // stats table's live-only invariant
      val tombP = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
      val tombFs = tombP.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (tombFs.exists(tombP)) tombFs.delete(tombP, true)
      // corpus stats (N, Σdl) persist WITH the store — loaded handles
      // seed (N, avgdl) from this one-row table instead of
      // re-aggregating doclen; appends fold it, compact recomputes
      // it. The two scalars ride the doclen WRITE itself (observed
      // metrics — no second pass over the written table) — UNLESS
      // speculation is on, where an observe can over-count
      // ([[observesExact]]): then one narrow post-write scan of the
      // committed table is the exact source.
      val specSafe = observesExact(spark)
      val (n, sumDl) =
        if (specSafe) {
          val obs = org.apache.spark.sql.Observation()
          doclen.select(col("vec_id"), col("dl"))
            .observe(obs, count(lit(1)).as("n"), sum(col("dl")).as("s"))
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/doclen")
          (obs.get("n").asInstanceOf[Long],
            obs.get("s") match {
              case l: java.lang.Long => l.longValue
              case _ => 0L // empty corpus: sum is null
            })
        } else {
          doclen.select(col("vec_id"), col("dl"))
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/doclen")
          doclenStatsOf(spark.read.parquet(s"$dir/doclen")
            .select(col("vec_id"), col("dl")))
        }
      writeBm25Stats(spark, dir, n, sumDl)
      writeManifest(spark, dir, Bm25, 0L, nb.toLong)
      recordEpoch(spark, dir, "save", n)
      if (denormDl)
        // the denorm default changed append crash semantics (a batch
        // can be PARTIALLY scoreable mid-crash vs the normalized
        // layout's all-or-nothing doclen commit point) — say so once
        // per save so non-idempotent ingest pipelines notice
        System.err.println(s"[graft] saveBm25($dir): denormalized-dl " +
          "layout (the serving-optimized default) — a crash " +
          "mid-append leaves that batch partially scoreable; pass " +
          "denormDl = false for non-idempotent write-heavy ingest")
    }
  }

  /** DURABLE append for the BM25 layout, ordered so `doclen` is the
    * COMMIT POINT: postings append first, the document-frequency
    * table folds second, doc lengths land last — scoring inner-joins
    * `doclen`, so a crash mid-append leaves the batch's documents
    * UNSCOREABLE rather than partially scored. On a bucketed layout
    * the df fold is PARTIAL: only the batch's tokens' buckets are
    * read, folded, and swapped (per-bucket, materialize-first, aside
    * dirs under `df.oldparts/` restorable by the next append or
    * [[vacuum]], the whole loop bracketed by a `df.fold.intent`
    * marker so an interrupted fold is DETECTED and healed — see
    * [[bm25FoldIntent]]), so append cost is O(batch vocab), not
    * O(corpus vocab); the flat layout keeps the whole-table union +
    * sum through a temp swap. The persisted corpus stats fold too
    * (+batch docs, +batch Σdl — [[writeBm25Stats]]). Recovery from a
    * crashed append: [[repair]] (removes the batch's orphaned
    * postings rows and recomputes df + stats), or the manual recipe —
    * tombstone the batch's ids ([[delete]]), [[compact]], re-append.
    *
    * ID CONTRACT: the batch's `vec_id`s must be DISJOINT from the
    * stored corpus — the df fold sums per-term counts, which is exact
    * only when no document is counted twice; re-appending an
    * already-indexed id double-counts its postings rows AND its df
    * contribution (skewing idf until the next [[compact]] recomputes
    * df). The contract is enforced BY DEFAULT (`requireNewIds =
    * true`, the round-13 default-on discipline: the default-conf
    * failure mode must be a loud named error, never silent idf
    * corruption): one broadcast semi-join of the batch's ids against
    * the stored `doclen` — batch-sized shuffle work; the stored side
    * pays one narrow single-column scan, never a shuffle (measured at
    * ScreenBench ×100 in PARITY). Pass `requireNewIds = false` as the
    * documented opt-out for provably-disjoint producers (a
    * checkpointed stream's replay markers already skip re-delivered
    * BATCHES before this call, so the default costs replays nothing).
    */
  def appendBm25(dir: String, postingsNew: DataFrame,
                 doclenNew: DataFrame, dfNew: DataFrame,
                 requireNewIds: Boolean = true): Unit = {
    val spark = postingsNew.sparkSession
    val nb = readManifest(spark, dir, Bm25).n_buckets.toInt
    // follow the STORED layout: bucket modulus from the manifest,
    // denormalized dl iff the stored postings carry it (one-footer
    // probe — a full-table read here pays an O(nb) dir listing)
    val denormDl = postingsHasDl(spark, dir)
    withWriteLock(spark, dir) {
      if (requireNewIds)
        requireDisjointIds(spark, dir, "doclen",
          doclenNew.select(col("vec_id")), "appendBm25",
          "the df fold would double-count them; delete + compact " +
            "first, or append only new documents")
      val hconf = spark.sparkContext.hadoopConfiguration
      val live = new org.apache.hadoop.fs.Path(s"$dir/df")
      val fs = live.getFileSystem(hconf)
      // crash recovery BEFORE this batch touches anything: restore any
      // bucket a crashed fold stranded aside ([[restoreOldParts]]),
      // then — if that fold's INTENT marker is still behind — df may
      // be MIXED folded/unfolded across buckets (the crash hit between
      // per-bucket swaps); recompute it from the postings (the table
      // the fold derives from) so this batch folds onto a consistent
      // base instead of baking the inconsistency in
      restoreOldParts(fs, live)
      val intent = bm25FoldIntent(dir)
      if (fs.exists(intent)) {
        System.err.println(s"[graft] appendBm25($dir): pending fold " +
          "intent found (a previous append crashed mid-fold) — " +
          "recomputing df from the postings before this append")
        recomputeBm25Df(spark, dir, nb)
        fs.delete(intent, false)
      }
      val p0 =
        if (!denormDl)
          postingsNew.select(col("vec_id"), col("tok"), col("tf"))
        else postingsNew.select(col("vec_id"), col("tok"), col("tf"))
          .join(doclenNew.select(col("vec_id"), col("dl")), Seq("vec_id"))
      val pCols = Seq("vec_id", "tok", "tf") ++
        (if (denormDl) Seq("dl") else Nil)
      // bucketed: one file per TOUCHED bucket per append (k = 1)
      writeBm25Table(p0, pCols, nb, "vec_id", 0L, SaveMode.Append,
        s"$dir/postings")
      if (nb > 0) {
        // PARTIAL fold on the bucketed layout: only the BATCH's
        // tokens' buckets can change (each token lives wholly in one
        // `tb` dir), so the fold reads and rewrites just those — an
        // append costs O(batch vocab), not O(corpus vocab). The
        // bucket-literal pull is ≤ nb ints. Per-bucket swaps follow
        // [[swapInto]]'s materialize-first order with the aside dirs
        // OUTSIDE the table (`df.oldparts/` — an aside INSIDE it
        // would poison hive partition discovery); a crash mid-swap
        // strands at most one bucket there, and BOTH the next append
        // (above) and [[vacuum]]'s oldparts pass restore it. A crash
        // between buckets leaves df mixed folded/unfolded — DETECTED
        // now: the fold intent written below outlives the crash, and
        // the next append / [[repair]] recomputes df from the
        // postings instead of folding onto the mixed base. The
        // crashed-append recovery recipe for the BATCH (tombstone +
        // compact + re-append, or [[repair]]'s orphan heal) is
        // unchanged.
        val tmp = new org.apache.hadoop.fs.Path(s"$dir/df.compact")
        fs.delete(tmp, true)
        val tbs = dfNew
          .select(pmod(hash(col("tok")), lit(nb)).as("tb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        // list ONLY the touched buckets' dirs (opening the whole
        // table pays an O(nb) partition discovery per append); a
        // touched bucket with no dir yet holds only novel tokens
        val existing = tbs.filter(b =>
          fs.exists(new org.apache.hadoop.fs.Path(live, s"tb=$b")))
        val storedTouched =
          if (existing.isEmpty)
            dfNew.select(col("tok"), col("df")).filter(lit(false))
          else spark.read.option("basePath", live.toString)
            .parquet(existing.map(b => s"$live/tb=$b"): _*)
            .select(col("tok"), col("df"))
        val touchedDf = storedTouched
          .unionByName(dfNew.select(col("tok"), col("df")))
          .groupBy(col("tok")).agg(sum(col("df")).as("df"))
        bucketAligned(bm25WithTb(touchedDf, nb, Seq("tok", "df")),
            Seq("tb"), "tok")
          .write.mode(SaveMode.Overwrite)
          .partitionBy("tb").parquet(tmp.toString)
        // INTENT marker brackets the swap loop (merge's .merge.intent
        // pattern): present ⇒ the fold may have committed in some
        // buckets and not others
        fs.create(intent, true).close()
        val aside = new org.apache.hadoop.fs.Path(s"$dir/df.oldparts")
        fs.mkdirs(aside)
        tbs.foreach { b =>
          val tp = new org.apache.hadoop.fs.Path(tmp, s"tb=$b")
          if (fs.exists(tp)) {
            val lp = new org.apache.hadoop.fs.Path(live, s"tb=$b")
            if (fs.exists(lp))
              require(fs.rename(lp,
                new org.apache.hadoop.fs.Path(aside, s"tb=$b")),
                s"appendBm25: rename $lp aside failed")
            require(fs.rename(tp, lp),
              s"appendBm25: rename $tp -> $lp failed; the old rows " +
                s"are intact under $aside — run vacuum to restore")
          }
        }
        // every touched bucket swapped — the fold is complete; the
        // asides and temp are debris, the intent lifts LAST (a crash
        // before this line only costs one redundant df recompute)
        fs.delete(aside, true)
        fs.delete(tmp, true)
        fs.delete(intent, false)
      } else {
        val folded = spark.read.parquet(live.toString)
          .select(col("tok"), col("df"))
          .unionByName(dfNew.select(col("tok"), col("df")))
          .groupBy(col("tok")).agg(sum(col("df")).as("df"))
        rewriteTable(spark, dir, "df")(tmp =>
          folded.write.mode(SaveMode.Overwrite).parquet(tmp))
      }
      // the batch's (count, Σdl) ride the doclen append itself
      // (observed metrics — no separate batch aggregate, no
      // before/after footer counts): bn is both the epoch delta and
      // the stats-fold increment. With speculation on the observe
      // can over-count ([[observesExact]]) — a skewed fold silently
      // shifts every score on the seeded handle until compact/repair
      // — so the fallback re-aggregates the BATCH (batch-sized; the
      // batch plan is already evaluated multiple times per append).
      val specSafe = observesExact(spark)
      val (bn, bs) =
        if (specSafe) {
          val obs = org.apache.spark.sql.Observation()
          doclenNew.select(col("vec_id"), col("dl"))
            .observe(obs, count(lit(1)).as("n"), sum(col("dl")).as("s"))
            .write.mode(SaveMode.Append).parquet(s"$dir/doclen")
          (obs.get("n").asInstanceOf[Long],
            obs.get("s") match {
              case l: java.lang.Long => l.longValue
              case _ => 0L // empty batch: sum is null
            })
        } else {
          doclenNew.select(col("vec_id"), col("dl"))
            .write.mode(SaveMode.Append).parquet(s"$dir/doclen")
          doclenStatsOf(doclenNew.select(col("vec_id"), col("dl")))
        }
      // fold the persisted corpus stats: +batch docs, +batch Σdl —
      // batch-sized work, so the append→reopen→search cycle never
      // re-aggregates the corpus-sized doclen. A store saved before
      // the stats table existed — or one whose pre-round-16 stats
      // row (live_only = false) can't fold because tombstones are
      // pending — upgrades here (one masked doclen aggregate, once).
      // Crash window: a crash between the doclen append and this
      // fold leaves stats one batch stale — scoring uses slightly-old
      // (N, avgdl) until [[repair]] or [[compact]] recomputes them
      // (the same bounded-staleness class as df; describe(deep)'s
      // _corpus_stats_stale row surfaces it without mutating).
      readBm25Stats(spark, dir) match {
        case Some((n0, s0, live)) if live || !fs.exists(
            new org.apache.hadoop.fs.Path(s"$dir/tombstones")) =>
          writeBm25Stats(spark, dir, n0 + bn, s0 + bs)
        case _ =>
          val (n, s) = maskedDoclenStats(spark, dir)
          writeBm25Stats(spark, dir, n, s)
      }
      recordEpoch(spark, dir, "append", bn)
    }
  }

  /** REWRITE a saved BM25 store between the normalized and
    * denormalized-dl layouts IN PLACE — the migration path for a
    * store built before the e49 measurement settled the serving
    * trade (denormalized halves the pruned search read and deletes
    * the doclen join; the write side grows by one long per posting
    * row — see PARITY's round-13 store_mb cells). Only the postings
    * table rewrites: `doclen` stays (it is the append commit point,
    * the epoch row-count source, and the normalized layout's scoring
    * side), `df` and the manifest are untouched, and the bucket
    * modulus is preserved, so loaded handles and probers are
    * oblivious to WHEN a store migrated. Tombstoned rows rewrite
    * as-is (ids don't change, so the tombstone table keeps masking
    * them). Crash-safe by the standard temp-dir + [[swapInto]]
    * protocol: a crash leaves either the old layout live or the
    * aside `.old` copy restorable by [[vacuum]]'s restore pass —
    * never a half-rewritten table. Already-in-target-layout calls
    * are no-ops (idempotent under retry). One `rewrite` epoch row
    * records the op.
    */
  def rewriteBm25Layout(spark: SparkSession, dir: String,
                        denormDl: Boolean): Unit = {
    withWriteLock(spark, dir) {
      // manifest read INSIDE the lock, like every other lifecycle op —
      // n_buckets is immutable for a store's lifetime, but reading
      // state under the lock keeps the kind check race-free too
      val man = readManifest(spark, dir, Bm25)
      val nb = man.n_buckets.toInt
      val raw = spark.read.parquet(s"$dir/postings")
      if (raw.columns.contains("dl") != denormDl) {
        val base = raw.select(col("vec_id"), col("tok"), col("tf"))
        // RAW doclen (unmasked): tombstoned postings rows keep their
        // dl so the rewrite is a pure layout change, not a compact.
        // LEFT join + per-row raise_error on a missing dl: a postings
        // row whose vec_id has no doclen row is a crashed append's
        // orphan (doclen is the commit point) — surfaced LOUDLY here
        // rather than silently compacted away by an inner join, which
        // would make the denorm direction lossy while the reverse
        // preserves such rows. Remedy is in the message.
        val p0 =
          if (!denormDl) base
          else base.join(
              spark.read.parquet(s"$dir/doclen")
                .select(col("vec_id"), col("dl")), Seq("vec_id"), "left")
            .withColumn("dl", coalesce(col("dl"), raise_error(concat(
              lit("rewriteBm25Layout: postings row for vec_id="),
              col("vec_id"),
              lit(" has no doclen row — a crashed append left orphaned" +
                " postings. delete that id + compact, then rewrite.")))))
        val pCols = Seq("vec_id", "tok", "tf") ++
          (if (denormDl) Seq("dl") else Nil)
        rewriteTable(spark, dir, "postings")(tmp =>
          writeBm25Table(p0, pCols, nb, "vec_id",
            diskRows(spark, s"$dir/postings"), SaveMode.Overwrite, tmp))
        recordEpoch(spark, dir, "rewrite",
          diskRows(spark, s"$dir/doclen"))
      }
    }
  }

  /** (postings, doclen, df, nBuckets, statsSeed). Tombstoned documents
    * ([[delete]]) are anti-joined out of postings and doclen, so they
    * can neither be candidates nor influence length normalization;
    * `df` still counts them until the next [[compact]] recomputes
    * it — idf is slightly stale after deletes, exactly Lucene's
    * deleted-docs-until-merge semantics, documented rather than
    * hidden. On a bucketed layout the token-keyed frames keep their
    * `tb` partition column (search filters on the query terms'
    * literal buckets → file-level pruning); a denormalized store's
    * postings keep their `dl` column (search skips the doclen join).
    *
    * `statsSeed` = the persisted (n_docs, Σdl) thunk when the store
    * has a stats table — the handle's (N, avgdl) come from it, so a
    * reopened handle's first search never re-aggregates the
    * doc-count-sized doclen, tombstones INCLUDED: [[delete]] folds
    * the stats negatively at delete time (the live-only invariant,
    * round 16), so a pending tombstone set no longer costs a masked
    * O(corpus) re-aggregate per reopen. The one exception is a
    * pre-round-16 stats row (no `live_only` flag) with tombstones
    * pending — its value counts the then-tombstoned docs, so the
    * seed LAZILY subtracts the tombstone set's (count, Σdl) at first
    * search (a tombstone-sized, id-pruned semi-join — still never an
    * unpruned corpus scan; any append/compact/repair upgrades the
    * row in place). Absent (a pre-stats store) the loader falls back
    * to the masked doclen aggregate.
    */
  def loadBm25(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Int,
         Option[() => (Long, Long)]) = {
    val man = readManifest(spark, dir, Bm25)
    val nb = man.n_buckets.toInt
    val raw = spark.read.parquet(s"$dir/postings")
    val pCols = Seq(col("vec_id"), col("tok"), col("tf")) ++
      (if (raw.columns.contains("dl")) Seq(col("dl")) else Nil) ++
      (if (nb > 0) Seq(col("tb").cast("int")) else Nil)
    val postings = maskTombstones(spark, dir, raw.select(pCols: _*))
    val doclen = maskTombstones(spark, dir,
      spark.read.parquet(s"$dir/doclen")
        .select(col("vec_id"), col("dl")))
    val dfCols = Seq(col("tok"), col("df")) ++
      (if (nb > 0) Seq(col("tb").cast("int")) else Nil)
    val df = spark.read.parquet(s"$dir/df").select(dfCols: _*)
    val tombPath = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seed: Option[() => (Long, Long)] =
      readBm25Stats(spark, dir).map {
        case (n, s, live) if live || !fs.exists(tombPath) =>
          () => (n, s)
        case (n, s, _) =>
          // pre-round-16 row + pending tombstones: subtract the
          // tombstone set's (count, Σdl) lazily at first search
          () => {
            val t = spark.read.parquet(tombPath.toString)
              .select(col("vec_id"))
            val (dn, ds) = doclenStatsOfIds(spark, dir, t)
            (n - dn, s - ds)
          }
      }
    (postings, doclen, df, nb, seed)
  }

  // ------------------------------------------------------------------
  // LSH (durable MinHash band index — the dedup family's store kind)
  // ------------------------------------------------------------------

  /** The LSH layout's derived probe-bucket columns — `bb` buckets the
    * band table by its probe key (`bkey` — the string already embeds
    * the band id, so `hash(bkey)` is band-aware), `sb` buckets the
    * signature table by the candidate key (`vec_id`). Spark's
    * `hash()` (Murmur3, fixed seed) is deterministic across sessions
    * and versions — the same guarantee bucketed tables rely on — so a
    * prober recomputing the same expression over its batch keys
    * derives exactly the stored partition values.
    */
  private def lshWithBb(bands: DataFrame, nb: Int): DataFrame =
    bands.select(col("vec_id"), col("bkey"), col("band"),
      pmod(hash(col("bkey")), lit(nb)).as("bb"))
  private def lshWithSb(sigs: DataFrame, nb: Int): DataFrame =
    sigs.select(col("vec_id"), col("sig"),
      pmod(hash(col("vec_id")), lit(nb)).as("sb"))

  /** The LSH store's BAND-KEY Bloom sketch — the ingest loop's cheap
    * membership prefilter: a Bloom over every stored `bkey`, probed
    * by an incoming batch's band keys BEFORE the band table is
    * touched. A bkey the sketch rejects provably matches NO stored
    * bucket (Bloom has no false negatives), so dropping its band row
    * changes no verdict — false positives only cost an unnecessary
    * probe. (A Bloom over document TEXTS — the obvious alternative —
    * could not soundly skip anything: a text-negative doc can still
    * be a NEAR-dup, and acting on a text-positive without
    * verification would let FPs alter verdicts.) ~128 KB at the
    * default 2^20 bits; rebuilt from the band table on [[compact]]
    * (pure function), bit_or-folded on append/merge (mergeable-sketch
    * semantics). The modulus rides in `params/` as `bkbloom_bits`.
    */
  private def bkeySketchOf(bands: DataFrame, mBits: Int): DataFrame =
    graft.operators.DedupQueries.BloomSketch.sketchOf(
      bands.select(col("bkey").as("h")), mBits)

  /** Layout: `sigs/` = (vec_id, sig array<long>) PARTITIONED BY
    * `sb = pmod(hash(vec_id), n_buckets)`; `bands/` = (vec_id, bkey,
    * band) PARTITIONED BY (band, `bb = pmod(hash(bkey), n_buckets)`)
    * (per-band dirs make the shard merge a per-directory rename, like
    * the IVF families' cells; the `bb` sub-dirs are what lets a
    * screen prune its scan to the batch's buckets' FILES — the
    * probed-cell trick applied to the dedup store); `bkbloom/` = the
    * [[bkeySketchOf]] band-key Bloom (w, word) rows; `params/` = ONE
    * row (threshold, num_hashes, rows_per_band, bkbloom_bits) — the
    * banding parameters screening must replay (value-checked on
    * merge, like centroids/codebooks). `m_bits` carries rows_per_band
    * as a cheap load-time cross-check; the manifest's `n_buckets`
    * carries the bucket modulus probers must replay (0 under
    * `spark.graft.probeBuckets = 0` → flat v1-style tables).
    */
  def saveLsh(dir: String, sigs: DataFrame, bands: DataFrame,
              threshold: Double, numHashes: Int,
              rowsPerBand: Int): Unit = {
    val spark = sigs.sparkSession
    import spark.implicits._
    // auto-sizing estimates the band-table rows (sigs × bands per
    // sig — exact, banding emits one row per band) with one extra
    // signature pass, once per build; a conf override skips it.
    // The SAME estimate sizes the band-key Bloom: the stored sketch's
    // usefulness is its fill ratio, which only the save-time key
    // count can anchor (the round-13 ScreenBench fill audit: the
    // x100 store's conf-default 2^20-bit sketch sat at 50% fill /
    // 12.5% FP — one more order of magnitude and the prefilter is
    // pure pass-through).
    lazy val nSigs = sigs.count()
    lazy val estKeys =
      nSigs * math.max(1L, numHashes.toLong / rowsPerBand)
    val confNb = spark.conf.getOption("spark.graft.probeBuckets")
      .map(_.toInt)
    val nb = confNb.getOrElse(autoProbeBuckets(estKeys))
    val bloomBits = storeBloomBits(spark, estKeys)
    // the write salt reuses the auto-sizing estimate; under a conf
    // override (which skips the count) saves stay salt-free
    val (estSig, estBand) =
      if (confNb.isEmpty) (nSigs, estKeys) else (0L, 0L)
    withWriteLock(spark, dir) {
      val (sObs, sN) = observedCount(sigs)
      if (nb > 0)
        // shuffle-align to the bucket dirs — files ≈ buckets (× write
        // salt), not tasks × buckets ([[bucketAligned]])
        bucketAligned(lshWithSb(sObs, nb), Seq("sb"), "vec_id",
            estSig, nb)
          .write.mode(SaveMode.Overwrite)
          .partitionBy("sb").parquet(s"$dir/sigs")
      else
        sObs.select(col("vec_id"), col("sig"))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/sigs")
      if (nb > 0)
        // partition dirs = bands × buckets, so the salt's rows-per-dir
        // estimate divides by both
        bucketAligned(lshWithBb(bands, nb), Seq("band", "bb"), "vec_id",
            estBand, nb * math.max(1, numHashes / rowsPerBand))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("band", "bb").parquet(s"$dir/bands")
      else
        bands.select(col("vec_id"), col("bkey"), col("band"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("band").parquet(s"$dir/bands")
      bkeySketchOf(bands, bloomBits).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/bkbloom")
      tinyWrite(spark, s"$dir/params", tinySchema(lshParamsSchema),
        Seq(g => {
          g.add("threshold", threshold); g.add("num_hashes", numHashes)
          g.add("rows_per_band", rowsPerBand)
          g.add("bkbloom_bits", bloomBits)
        }))
      writeManifest(spark, dir, Lsh, rowsPerBand.toLong, nb.toLong)
      recordEpoch(spark, dir, "save", sN())
    }
  }

  /** DURABLE append for the LSH layout: new docs' signatures and band
    * rows parquet-append (band rows land only under their bands'
    * partition dirs). Bucket columns follow the STORED layout (the
    * manifest's modulus, not the session conf — so appends can never
    * mix moduli within one table). Signatures are a pure function of
    * the text — no trained artifacts to freeze — so append-encode
    * cannot drift from build-encode by construction. Kind-checked
    * first.
    */
  def appendLsh(dir: String, sigsNew: DataFrame,
                bandsNew: DataFrame): Unit = {
    val spark = sigsNew.sparkSession
    val nb = readManifest(spark, dir, Lsh).n_buckets.toInt
    withWriteLock(spark, dir) {
      // fold the new band keys into the bkey Bloom FIRST (bit_or — the
      // mergeable-sketch semantics; idempotent under replay). Ordering
      // is soundness: a crash AFTER the fold but before the row
      // appends leaves an over-approximating sketch (keys folded, rows
      // never landed) — safe by the FP-only-cost invariant — whereas
      // the reverse order's crash window left stored band rows the
      // sketch rejects, silently skipping their true near-dups on
      // every later screen. Stores saved before the sketch existed
      // simply have none to maintain.
      bkbloomBitsOf(spark, dir).foreach(mBits => foldSketch(spark, dir,
        "bkbloom", bkeySketchOf(bandsNew, mBits), oneFile = true))
      val (sObs, sN) = observedCount(sigsNew)
      if (nb > 0)
        // one file per TOUCHED bucket per append (bucketAligned, k=1)
        bucketAligned(lshWithSb(sObs, nb), Seq("sb"), "vec_id")
          .write.mode(SaveMode.Append)
          .partitionBy("sb").parquet(s"$dir/sigs")
      else
        sObs.select(col("vec_id"), col("sig"))
          .write.mode(SaveMode.Append).parquet(s"$dir/sigs")
      if (nb > 0)
        bucketAligned(lshWithBb(bandsNew, nb), Seq("band", "bb"),
            "vec_id")
          .write.mode(SaveMode.Append)
          .partitionBy("band", "bb").parquet(s"$dir/bands")
      else
        bandsNew.select(col("vec_id"), col("bkey"), col("band"))
          .write.mode(SaveMode.Append)
          .partitionBy("band").parquet(s"$dir/bands")
      recordEpoch(spark, dir, "append", sN())
    }
  }

  /** The stored band-key Bloom's bit size, None for pre-sketch stores
    * (params rows without the `bkbloom_bits` column).
    */
  private val lshParamsSchema =
    """message params {
      |  required double threshold;
      |  required int32 num_hashes;
      |  required int32 rows_per_band;
      |  required int32 bkbloom_bits;
      |}""".stripMargin

  private def bkbloomBitsOf(spark: SparkSession,
                            dir: String): Option[Int] = {
    val g = tinyRead(spark, s"$dir/params").head
    if (!g.getType.containsField("bkbloom_bits")) None
    else Some(g.getInteger("bkbloom_bits", 0))
  }

  /** (sigs, bands, threshold, numHashes, rowsPerBand, nBuckets,
    * bkeyBloom) — tombstoned rows ([[delete]]) anti-joined out of
    * BOTH tables, so neither candidate generation nor the estimate
    * verify can surface a deleted document. On a bucketed (v2) layout
    * the frames KEEP their `sb`/`bb` partition columns — a screen
    * filters on them with the batch's literal bucket values and
    * Catalyst pushes the filter through the mask join to the scan as
    * a PartitionFilter, pruning at the file level. `nBuckets` = 0
    * means unbucketed (v1 dir, or saved with bucketing off) — screens
    * run unpruned. `bkeyBloom` = the stored band-key Bloom
    * ((w, word) frame, bit size) the screen prefilters with; None for
    * pre-sketch stores. (The sketch may over-approximate after
    * deletes — Blooms cannot forget — which is SAFE: extra probes,
    * never a lost verdict; [[compact]] rebuilds it exactly.)
    */
  def loadLsh(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Double, Int, Int, Int,
         Option[(DataFrame, Int)]) = {
    val man = readManifest(spark, dir, Lsh)
    val p = tinyRead(spark, s"$dir/params") match {
      case Seq(g) => (g.getDouble("threshold", 0),
        g.getInteger("num_hashes", 0), g.getInteger("rows_per_band", 0))
      case rows => throw new IllegalStateException(
        s"$dir/params: expected exactly 1 row, found ${rows.length}")
    }
    require(p._3.toLong == man.m_bits,
      s"$dir: params/manifest disagree on rows_per_band (${p._3} vs ${man.m_bits})")
    val nb = man.n_buckets.toInt
    val sigCols = Seq(col("vec_id"), col("sig")) ++
      (if (nb > 0) Seq(col("sb").cast("int")) else Nil)
    val bandCols = Seq(col("vec_id"), col("bkey"),
      col("band").cast("int")) ++
      (if (nb > 0) Seq(col("bb").cast("int")) else Nil)
    val sigs = maskTombstones(spark, dir,
      spark.read.parquet(s"$dir/sigs").select(sigCols: _*))
    val bands = maskTombstones(spark, dir,
      spark.read.parquet(s"$dir/bands").select(bandCols: _*))
    val bloom = bkbloomBitsOf(spark, dir).map { mBits =>
      // lazy localCheckpoint: an auto-sized sketch can reach 32 MB,
      // and serving loops probe it EVERY batch — materialize once
      // per handle instead of re-reading parquet per screen
      // (ContextCleaner frees the blocks when the handle dies)
      (spark.read.parquet(s"$dir/bkbloom")
        .select(col("w"), col("word"))
        .localCheckpoint(eager = false), mBits)
    }
    (sigs, bands, p._1, p._2, p._3, nb, bloom)
  }

  // ------------------------------------------------------------------
  // Bloom
  // ------------------------------------------------------------------

  def saveBloom(dir: String, words: DataFrame, mBits: Int): Unit = {
    val spark = words.sparkSession
    withWriteLock(spark, dir) {
      words.select(col("w"), col("word"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/words")
      writeManifest(spark, dir, Bloom, mBits.toLong)
      recordEpoch(spark, dir, "save", diskRows(spark, s"$dir/words"))
    }
  }

  /** DURABLE append for the Bloom layout — the d13 incremental-ingest
    * property made durable: the new batch's word rows bit_or-fold
    * into the stored table (mergeable-sketch semantics — the same
    * fold [[merge]]'s bloom branch runs), rewritten through a temp
    * dir + rename swap (compact's crash-safety order; re-running a
    * crashed append is harmless because bit_or is idempotent).
    * Records an `append` epoch with the word-row delta (bit_or can
    * collapse rows, so the delta may be less than the batch's words).
    */
  def appendBloom(dir: String, newWords: DataFrame): Unit = {
    val spark = newWords.sparkSession
    readManifest(spark, dir, Bloom)
    withWriteLock(spark, dir) {
      val before = diskRows(spark, s"$dir/words")
      foldSketch(spark, dir, "words", newWords.select(col("w"), col("word")),
        oneFile = false)
      recordEpoch(spark, dir, "append",
        diskRows(spark, s"$dir/words") - before)
    }
  }

  /** (words, mBits) — the carried modulus survives the round-trip, so
    * a probe against a loaded sketch can no more mismatch its modulus
    * than against a live one.
    */
  def loadBloom(spark: SparkSession, dir: String): (DataFrame, Int) = {
    val man = readManifest(spark, dir, Bloom)
    val words = spark.read.parquet(s"$dir/words")
      .select(col("w"), col("word"))
    (words, man.m_bits.toInt)
  }
}
