package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.Graft

/** The round-12 scale contract: a screen/search against a LOADED
  * store must read only the probe keys' buckets' FILES, not the whole
  * stored table — the IVF family's probed-cell pruning
  * (EmbStreamsSpec) extended to the LSH / BM25 / pHash store kinds.
  * Three things are pinned per kind: (1) the pruned path returns
  * EXACTLY the unpruned/live result (pruning is containment — equal
  * probe key ⇒ equal bucket value — so it can only drop
  * non-candidates); (2) the executed plan's file scan carries a
  * partition filter on the bucket column; (3) the scan's `numFiles`
  * metric is strictly below the table's on-disk file count. Plus the
  * layout upgrade/merge contracts: a version-1 (unbucketed) manifest
  * still loads and screens, and merging stores with different bucket
  * moduli is refused.
  */
class ProbePruningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-probe-pruning-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docs: DataFrame = spark.read
    .parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))

  private def tmp(): String =
    Files.createTempDirectory("graft-probe-pruning").toString

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** All FileSourceScanExec nodes of an EXECUTED plan whose relation
    * path contains `table`, unwrapping AQE wrapper nodes (the
    * EmbStreamsSpec traversal — collectLeaves() can't see through
    * AdaptiveSparkPlanExec / QueryStageExec).
    */
  private def scansIn(plan: org.apache.spark.sql.execution.SparkPlan,
                      table: String)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.FileSourceScanExec]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(
          _.toString.contains(table))) out += f
        f.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  private def scansOf(df: DataFrame, table: String)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    scansIn(df.queryExecution.executedPlan, table)

  /** Run `body` with a QueryExecutionListener capturing the executed
    * plan of EVERY action it triggers — including a kernel's internal
    * candidate pulls, whose scans never appear in the returned
    * frame's own plan — then return the captured plans (after
    * draining the async listener bus).
    */
  private def capturingPlans[T](body: => T)
      : (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = seen.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      // the listener bus dispatches asynchronously — give it a beat
      val deadline = System.currentTimeMillis() + 15000
      while (seen.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(300)
      (r, seen.toArray(Array.empty[
        org.apache.spark.sql.execution.SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def filesOnDisk(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(path))
  }

  /** Assert the scan of `table` among `scans` pruned: it has a
    * partition filter on `bucketCol` and read strictly fewer files
    * than the table holds.
    */
  private def assertScansPruned(
      scans: Seq[org.apache.spark.sql.execution.FileSourceScanExec],
      storeDir: String, table: String, bucketCol: String): Unit = {
    assert(scans.nonEmpty, s"no $table scan found in the executed plan")
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == bucketCol))),
      s"$table scan carries no partition filter on $bucketCol: " +
        scans.map(_.partitionFilters).mkString("; "))
    val read = scans.map(_.metrics("numFiles").value).min
    val total = filesOnDisk(s"$storeDir/$table")
    assert(read < total,
      s"$table scan read $read of $total files — no file-level pruning")
  }

  private def assertPruned(out: DataFrame, storeDir: String,
                           table: String, bucketCol: String): Unit =
    assertScansPruned(scansOf(out, table), storeDir, table, bucketCol)

  test("LSH store: loaded screen equals the live screen, and prunes bands+sigs scans to the batch's buckets' files") {
    // 32 buckets so one doc's 16 band keys can never cover the bucket
    // space — pruning is then guaranteed observable, not probabilistic
    spark.conf.set("spark.graft.probeBuckets", "32")
    try {
      // plus a re-keyed copy of doc 50, so every bucket doc 50 shares
      // with doc 0 holds two stored docs (the bucketCap input below)
      val stored = docs.filter(col("doc_id") % 3 =!= 0)
        .union(docs.filter(col("doc_id") === 50)
          .withColumn("doc_id", col("doc_id") + 100000))
      // ONE doc: its 16 band keys hit at most 16 of the 32 buckets,
      // so band-table pruning is guaranteed observable (doc 0's
      // near-dups 50/82 are in the stored side — the d19 fixture)
      val batch = docs.filter(col("doc_id") === 0)
      val live = Graft.lshIndex(stored)
      val d = tmp()
      live.save(d)
      val loaded = Graft.loadLshIndex(spark, d)
      assert(loaded.probeBuckets == 32)
      // the band probe runs inside the kernel's candidate pull (its
      // scan never appears in the returned frame's plan) — capture
      // every action's executed plan to see it
      val (out, plans) = capturingPlans {
        val o = loaded.screen(batch)
        assert(o.count() > 0, "screen found nothing — weak fixture")
        o
      }
      assert(sorted(out) == sorted(live.screen(batch)))
      out.collect()
      assertScansPruned(plans.flatMap(scansIn(_, "bands")),
        d, "bands", "bb")
      assertPruned(out, d, "sigs", "sb")
      // bucketCap on the pruned path: the cap counts over the pruned
      // band table, exact for every probed bkey (its whole population
      // shares its bucket value and survives the prune). k = 1 drops
      // the buckets doc 50 and its copy share, and with them verdicts
      val capped = loaded.screen(batch, bucketCap = Some(1))
      assert(sorted(capped) == sorted(live.screen(batch, bucketCap = Some(1))))
      assert(capped.count() < out.count(), "the cap dropped no verdict")
    } finally spark.conf.unset("spark.graft.probeBuckets")
  }

  test("BM25 store: loaded search equals the live ranking and prunes the postings+df scans to the query terms' buckets") {
    spark.conf.set("spark.graft.probeBuckets", "32")
    try {
      val d = tmp()
      Graft.bm25Index(docs).save(d)
      val loaded = Graft.loadBm25Index(spark, d)
      assert(loaded.probeBuckets == 32)
      // a short query (few terms) so the term-bucket set cannot cover
      // the bucket space
      val q = docs.filter(col("doc_id") === 7)
        .select(col("doc_id").as("query_id"),
          expr("array_join(slice(split(text, ' '), 1, 6), ' ')")
            .as("text"))
      val out = loaded.searchText(q, k = 5)
      assert(sorted(out) == sorted(Graft.bm25Index(docs).searchText(q, k = 5)))
      assert(out.count() > 0)
      out.collect()
      assertPruned(out, d, "postings", "tb")
      assertPruned(out, d, "df", "tb")
    } finally spark.conf.unset("spark.graft.probeBuckets")
  }

  test("pHash store: loaded screen equals the in-plan banding and prunes the bands scan to the batch's buckets") {
    spark.conf.set("spark.graft.probeBuckets", "32")
    try {
      // deterministic 32-bit-word hashes in consecutive-id pairs one
      // bit apart: every even id (the batch) has its odd sibling (the
      // stored near-dup) at Hamming 1
      val media = spark.range(0, 240).toDF("media_id")
        .withColumn("lo", expr(
          "xxhash64(media_id div 2) & 4294967295 ^ (media_id % 2)"))
        .withColumn("hi", expr(
          "xxhash64(media_id div 2 + 999) & 4294967295"))
        .select(col("media_id"), col("lo"), col("hi"))
      val stored = media.filter(col("media_id") % 2 === 1)
      val batch = media.filter(col("media_id") % 2 === 0 &&
        col("media_id") < 6) // 3 probes → ≤15 of 160 pb values
      val live = Graft.phashIndex(stored)
      val d = tmp()
      live.save(d)
      val loaded = Graft.loadPhashIndex(spark, d)
      assert(loaded.probeBuckets == 32 && loaded.storedBands.isDefined)
      val out = loaded.screen(batch)
      assert(sorted(out) == sorted(live.screen(batch)))
      assert(out.count() > 0, "screen found nothing — weak fixture")
      out.collect()
      assertPruned(out, d, "bands", "pb")
      // bucketCap on the pruned path still equals the live capped path
      val capped = loaded.screen(batch, bucketCap = Some(3L))
      assert(sorted(capped) ==
        sorted(live.screen(batch, bucketCap = Some(3L))))
    } finally spark.conf.unset("spark.graft.probeBuckets")
  }

  test("denormalized BM25 store: search touches doclen ZERO times (stats are handle-cached) and ranks identically") {
    val dNorm = tmp(); val dDen = tmp()
    // normalized is the conf-selected side since the round-14 default
    // flip; denorm is the default (asserted equal to explicit below)
    Graft.bm25Index(docs).save(dNorm, denormDl = false)
    Graft.bm25Index(docs).save(dDen, denormDl = true)
    val q = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val norm = Graft.loadBm25Index(spark, dNorm).searchText(q)
    val den = Graft.loadBm25Index(spark, dDen).searchText(q)
    assert(sorted(den) == sorted(norm))
    den.collect(); norm.collect()
    // (N, avgdl) are pulled ONCE per handle (round 14), so the search
    // plan's only doclen touch is the normalized layout's dl join; the
    // denormalized plan reads doclen NOT AT ALL — per-query serving
    // I/O is postings + df buckets only
    assert(scansOf(norm, "doclen").size == 1)
    assert(scansOf(den, "doclen").isEmpty)
    // appends follow the stored layout: the appended store still
    // carries dl on postings and still skips the join — and the
    // REOPENED handle's first search touches doclen in NO action at
    // all (round 15: the appendBm25 stats fold + the store's stats
    // table seed (N, avgdl), so not even the one-off corpus-stats
    // aggregate scans doclen — the exact O(corpus)-scan-per-append
    // cycle VERDICT r14 flagged)
    val d2 = tmp()
    Graft.bm25Index(docs.filter(col("doc_id") % 3 =!= 0))
      .save(d2, denormDl = true)
    val appended = Graft.loadBm25Index(spark, d2)
      .appendDurable(d2, docs.filter(col("doc_id") % 3 === 0))
    val (out2, plans2) = capturingPlans {
      val o = appended.searchText(q)
      o.collect()
      o
    }
    assert(sorted(out2) == sorted(norm))
    assert(plans2.flatMap(scansIn(_, "doclen")).isEmpty,
      "a freshly appended handle's first search must not scan doclen " +
        "in ANY action (stats must seed from the store's stats table)")
  }

  test("live append on a loaded pruned handle preserves the stored layout: still file-pruned, still zero doclen scans, same ranks") {
    spark.conf.set("spark.graft.probeBuckets", "32")
    try {
      val spark2 = spark
      import spark2.implicits._
      val d = tmp()
      Graft.bm25Index(docs.filter(col("doc_id") % 3 =!= 0)).save(d)
      val loaded = Graft.loadBm25Index(spark, d)
      assert(loaded.probeBuckets == 32)
      // LIVE append (no durable write): pre-round-15 this dropped
      // tb/dl and silently reverted the handle to full-scan,
      // join-in-plan screening — a 10–80x serving-I/O cliff
      val live = loaded.append(docs.filter(col("doc_id") % 3 === 0))
      assert(live.probeBuckets == 32,
        "a live append must not discard the handle's bucket modulus")
      assert(live.postings.columns.contains("dl") &&
        live.postings.columns.contains("tb"),
        "batch rows must carry the store's denormalized dl and tb")
      val q = docs.filter(col("doc_id") === 7)
        .select(col("doc_id").as("query_id"),
          expr("array_join(slice(split(text, ' '), 1, 6), ' ')")
            .as("text"))
      val (out, plans) = capturingPlans {
        val o = live.searchText(q, k = 5)
        o.collect()
        o
      }
      // ranks equal the build-all-at-once live index
      assert(sorted(out) ==
        sorted(Graft.bm25Index(docs).searchText(q, k = 5)))
      // the STORED side of the union still prunes at the file level
      assertPruned(out, d, "postings", "tb")
      // and no action aggregates or joins doclen (the seed FOLDS:
      // store stats + batch stats, both batch-sized)
      assert(plans.flatMap(scansIn(_, "doclen")).isEmpty,
        "live append must fold the stats seed, not re-scan doclen")
    } finally spark.conf.unset("spark.graft.probeBuckets")
  }

  test("deletes keep the stats seed: zero doclen scans on a reopened tombstoned handle AND on a live-deleted handle's first search") {
    val q = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val delIds = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("vec_id"))
    // the never-deleted-docs equivalent ranking (full df, masked
    // postings/doclen, masked N — Lucene's delete semantics)
    val expect = sorted(Graft.bm25Index(docs).delete(delIds)
      .searchText(q))
    // (a) REOPENED with pending tombstones: deleteFromIndex folded
    // the store's stats negatively at delete time, so the reopened
    // handle seeds (N, avgdl) from the stats table — round 15 seeded
    // appends but withheld the seed whenever tombstones existed,
    // re-aggregating the masked doclen on every reopen between
    // delete and compact (the exact O(corpus) class it had just
    // closed for appends)
    val d = tmp()
    Graft.bm25Index(docs).save(d)
    Graft.deleteFromIndex(spark, d, delIds)
    val reopened = Graft.loadBm25Index(spark, d)
    val (out, plans) = capturingPlans {
      val o = reopened.searchText(q)
      o.collect()
      o
    }
    assert(sorted(out) == expect)
    assert(plans.flatMap(scansIn(_, "doclen")).isEmpty,
      "a reopened tombstoned handle's first search must not scan " +
        "doclen in ANY action (delete must fold the stats table)")
    // (b) LIVE delete on a loaded handle: the seed folds negatively
    // (the aggregate runs at delete time), so the deleted handle's
    // first search still never scans doclen
    val d2 = tmp()
    Graft.bm25Index(docs).save(d2)
    val deleted = Graft.loadBm25Index(spark, d2).delete(delIds)
    val (out2, plans2) = capturingPlans {
      val o = deleted.searchText(q)
      o.collect()
      o
    }
    assert(sorted(out2) == expect)
    assert(plans2.flatMap(scansIn(_, "doclen")).isEmpty,
      "a live-deleted handle's first search must not scan doclen in " +
        "ANY action (delete must fold the seed, not drop it)")
  }

  test("a version-1 (unbucketed, 3-column manifest) LSH store still loads and screens, unpruned") {
    import spark.implicits._
    spark.conf.set("spark.graft.probeBuckets", "0") // flat v1-style tables
    val d = tmp()
    try {
      val stored = docs.filter(col("doc_id") % 3 =!= 0)
      Graft.lshIndex(stored).save(d)
    } finally spark.conf.unset("spark.graft.probeBuckets")
    // regress the manifest to the version-1 shape (no n_buckets column)
    val man = spark.read.parquet(s"$d/manifest")
      .select(col("kind"), col("m_bits")).collect()(0)
    Seq((man.getString(0), 1, man.getLong(1)))
      .toDF("kind", "version", "m_bits").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/manifest")
    val loaded = Graft.loadLshIndex(spark, d)
    assert(loaded.probeBuckets == 0)
    val batch = docs.filter(col("doc_id") % 60 === 0)
    assert(sorted(loaded.screen(batch)) ==
      sorted(Graft.lshIndex(docs.filter(col("doc_id") % 3 =!= 0))
        .screen(batch)))
    // and a v1 store ACCEPTS durable appends (writers follow the
    // stored layout — no bucket columns are invented)
    val app = loaded.appendDurable(d, docs.filter(col("doc_id") % 3 === 0)
      .filter(col("doc_id") % 2 === 0))
    assert(app.probeBuckets == 0)
  }

  test("bkey Bloom prefilter: a definitely-novel batch touches NO stored files; verdicts unchanged across append and compact") {
    import spark.implicits._
    val stored = docs.filter(col("doc_id") % 3 =!= 0)
    val d = tmp()
    Graft.lshIndex(stored).save(d)
    assert(new java.io.File(s"$d/bkbloom").exists())
    val loaded = Graft.loadLshIndex(spark, d)
    assert(loaded.bkeyBloom.isDefined)
    // baseline: verdicts equal the live (sketch-free) handle — the
    // prefilter can drop only provable non-candidates
    val batch = docs.filter(col("doc_id") % 3 === 0)
    assert(sorted(loaded.screen(batch)) ==
      sorted(Graft.lshIndex(stored).screen(batch)))
    // a batch of synthetic text sharing no shingle with the corpus:
    // every band key is Bloom-rejected, so the screen plan reads
    // NEITHER stored table — zero store I/O for novel data
    val novel = (0 until 8).map(i => (10000L + i,
      (0 until 12).map(t => s"zzqx${i}w$t").mkString(" ")))
      .toDF("doc_id", "text")
    val out = loaded.screen(novel)
    assert(out.count() == 0)
    assert(scansOf(out, "bands").isEmpty && scansOf(out, "sigs").isEmpty,
      "a fully-rejected batch must not scan the stored tables")
    // appendDurable folds the arrivals' band keys into the sketch: an
    // appended doc re-screens against itself afterwards
    val app = Graft.loadLshIndex(spark, d).appendDurable(d, batch)
    val self = sorted(app.screen(docs.filter(col("doc_id") === 0)))
    assert(self.nonEmpty)
    // compact REBUILDS the sketch from the compacted bands; verdicts
    // hold through it
    Graft.compactIndex(spark, d)
    val after = Graft.loadLshIndex(spark, d)
    assert(after.bkeyBloom.isDefined)
    assert(sorted(after.screen(docs.filter(col("doc_id") === 0))) == self)
    assert(sorted(after.screen(novel)).isEmpty)
  }

  test("screen batch size contract: an over-threshold batch fails loudly at the named boundary, before any store I/O") {
    spark.conf.set("spark.graft.maxScreenBatchRows", "5")
    try {
      val stored = docs.filter(col("doc_id") % 3 =!= 0)
      val d = tmp()
      Graft.lshIndex(stored).save(d)
      val loaded = Graft.loadLshIndex(spark, d)
      val oversized = docs.filter(col("doc_id") % 3 === 0).limit(20)
      val e = intercept[IllegalStateException] {
        loaded.screen(oversized).count()
      }
      assert(e.getMessage.contains("BROADCAST") &&
        e.getMessage.contains("maxScreenBatchRows"),
        s"wrong failure: ${e.getMessage}")
      // a within-contract batch still screens
      assert(loaded.screen(docs.filter(col("doc_id") === 0)).count() > 0)
      // same boundary on the phash screen
      import spark.implicits._
      val media = spark.range(0, 240).toDF("media_id")
        .withColumn("lo", expr(
          "xxhash64(media_id div 2) & 4294967295 ^ (media_id % 2)"))
        .withColumn("hi", expr(
          "xxhash64(media_id div 2 + 999) & 4294967295"))
        .select(col("media_id"), col("lo"), col("hi"))
      val dp = tmp()
      Graft.phashIndex(media.filter(col("media_id") % 2 === 1)).save(dp)
      val e2 = intercept[IllegalStateException] {
        Graft.loadPhashIndex(spark, dp)
          .screen(media.filter(col("media_id") % 2 === 0)).count()
      }
      assert(e2.getMessage.contains("BROADCAST"))
    } finally spark.conf.unset("spark.graft.maxScreenBatchRows")
  }

  test("DEFAULT-config fences: an oversized batch and a hot-bucket candidate blow-up fail loudly at named boundaries") {
    // the round-13 contract: these fences hold with NOTHING set — a
    // default-config user meets a named IllegalStateException, never
    // an opaque broadcast error or a driver OOM
    assert(spark.conf.getOption("spark.graft.maxScreenBatchRows").isEmpty)
    assert(spark.conf.getOption("spark.graft.maxScreenCandidates").isEmpty)
    val stored = docs.filter(col("doc_id") % 3 =!= 0)
    val d = tmp()
    Graft.lshIndex(stored).save(d)
    val loaded = Graft.loadLshIndex(spark, d)
    // batch fence: 1,000,001 rows trips the default before any store
    // I/O (the count early-stops; the text column is never computed)
    val huge = spark.range(0, 1000001)
      .select(col("id").as("doc_id"),
        concat(lit("w"), col("id")).as("text"))
    val e = intercept[IllegalStateException] { loaded.screen(huge) }
    assert(e.getMessage.contains("maxScreenBatchRows"),
      s"wrong failure: ${e.getMessage}")
    // candidate fence: a hyper-duplicated store × a duplicated batch —
    // 1050 stored copies × 1000 arriving copies share every band
    // bucket, so the candidate set (1.05M pairs) exceeds the 1M
    // default; the pruned screen's driver pull fails at the named
    // boundary, with bucketCap named as the remedy
    val text = (0 until 12).map(i => s"dup$i").mkString(" ")
    val hotStored = spark.range(0, 1050)
      .select(col("id").as("doc_id"), lit(text).as("text"))
    val hotBatch = spark.range(5000, 6000)
      .select(col("id").as("doc_id"), lit(text).as("text"))
    val dh = tmp()
    Graft.lshIndex(hotStored).save(dh)
    val lh = Graft.loadLshIndex(spark, dh)
    val e2 = intercept[IllegalStateException] { lh.screen(hotBatch) }
    assert(e2.getMessage.contains("maxScreenCandidates") &&
      e2.getMessage.contains("bucketCap"),
      s"wrong failure: ${e2.getMessage}")
    // the named remedy works: capping the hot bucket bounds the pull
    assert(lh.screen(hotBatch, bucketCap = Some(100)).count() == 0)
  }

  /** Deterministic media whose 5 pHash band chunks all fall in
    * [off, off+1024) — two different `off` values share NO (band,
    * chunk) key, so one range's batch is provably novel to the
    * other's store (the Bloom-rejection fixture). Chunks assemble
    * into (lo, hi) by inverting the band layout (band2 straddles the
    * words; band4 is 12-bit, so off+1024 must stay < 4096).
    */
  private def mediaOf(n: Int, off: Int, idOff: Long): DataFrame = {
    val cs = (0 until 5).map(i =>
      (lit(off) + pmod(expr(s"xxhash64(id * 31 + $i)"), lit(1024L)))
        .as(s"c$i"))
    spark.range(0, n)
      .select((col("id") + idOff).as("media_id") +: cs: _*)
      .select(col("media_id"),
        (col("c0") + col("c1") * 8192 +
          (col("c2") % 64) * 67108864L).as("lo"),
        (expr("c2 div 64") + col("c3") * 128 +
          col("c4") * 1048576L).as("hi"))
  }

  test("pHash pbbloom: a definitely-novel media batch reads NO stored files; verdicts unchanged across append and compact") {
    val stored = mediaOf(120, 0, 0L)
    val d = tmp()
    Graft.phashIndex(stored).save(d)
    assert(new java.io.File(s"$d/pbbloom").exists())
    val loaded = Graft.loadPhashIndex(spark, d)
    assert(loaded.pbBloom.isDefined)
    // a batch from a disjoint chunk range: every (band, chunk) key is
    // Bloom-rejected, the pb probe set is empty, and the screen plan
    // reads NEITHER stored table — zero store I/O for novel media
    val novel = mediaOf(40, 1024, 10000L)
    val out = loaded.screen(novel)
    assert(out.count() == 0)
    assert(scansOf(out, "bands").isEmpty && scansOf(out, "hashes").isEmpty,
      "a fully-rejected media batch must not scan the stored tables")
    // appendDurable folds the arrivals' keys FIRST (soundness order):
    // the appended media re-screen against themselves afterwards, and
    // the sketch-in-path screen equals the sketch-free live screen
    val app = loaded.appendDurable(d, novel)
    assert(app.pbBloom.isDefined)
    val self = sorted(app.screen(novel))
    assert(self.nonEmpty)
    assert(self == sorted(
      Graft.phashIndex(stored.unionByName(novel)).screen(novel)))
    // compact REBUILDS the sketch from the compacted bands; verdicts
    // hold through it and a still-novel range still reads nothing
    Graft.compactIndex(spark, d)
    val after = Graft.loadPhashIndex(spark, d)
    assert(after.pbBloom.isDefined)
    assert(sorted(after.screen(novel)) == self)
    val novel2 = mediaOf(30, 2048, 20000L)
    val out2 = after.screen(novel2)
    assert(out2.count() == 0)
    assert(scansOf(out2, "bands").isEmpty &&
      scansOf(out2, "hashes").isEmpty)
  }

  test("probe-bucket auto-sizing: conf unset derives the modulus from the probed table's size; small stores keep the floor") {
    assert(spark.conf.getOption("spark.graft.probeBuckets").isEmpty)
    // the rule: ~32k probed rows per bucket (serving-driven — the
    // modulus must sit well above a batch's probe-key count or the
    // pruning degenerates; see autoProbeBuckets's scaladoc), pow2,
    // clamped [16, 4096]
    assert(IndexStore.autoProbeBuckets(0L) == 16)
    assert(IndexStore.autoProbeBuckets(32768L * 16) == 16)
    assert(IndexStore.autoProbeBuckets(32768L * 16 + 1) == 32)
    assert(IndexStore.autoProbeBuckets(32768L * 100) == 128)
    assert(IndexStore.autoProbeBuckets(Long.MaxValue / 4) == 4096)
    // a small corpus saved with conf UNSET lands at the floor — the
    // exact granularity every pre-round-13 fixture was tested at
    val d = tmp()
    Graft.bm25Index(docs).save(d)
    val man = spark.read.parquet(s"$d/manifest").collect()(0)
    assert(man.getAs[Long]("n_buckets") == 16L)
    assert(Graft.loadBm25Index(spark, d).probeBuckets == 16)
    val dL = tmp()
    Graft.lshIndex(docs).save(dL)
    assert(spark.read.parquet(s"$dL/manifest").collect()(0)
      .getAs[Long]("n_buckets") == 16L)

    // the band-key Bloom sizes from the SAME save-time estimate:
    // ~16 bits/key, pow2, clamped [2^20, 2^28]; conf override wins
    assert(spark.conf.getOption("spark.graft.bloomBits").isEmpty)
    assert(IndexStore.storeBloomBits(spark, 0L) == (1 << 20))
    assert(IndexStore.storeBloomBits(spark, 65536L) == (1 << 20))
    assert(IndexStore.storeBloomBits(spark, 65537L) == (1 << 21))
    assert(IndexStore.storeBloomBits(spark, 17000000L) == (1 << 28))
    assert(IndexStore.storeBloomBits(spark, Long.MaxValue / 32) == (1 << 28))
    spark.conf.set("spark.graft.bloomBits", "64")
    try assert(IndexStore.storeBloomBits(spark,
      sys.error("conf override must not evaluate the count")) == 64)
    finally spark.conf.unset("spark.graft.bloomBits")
    // the small fixture store landed at the floor (the long-tested
    // 2^20 default), recorded in params for probers and append-folds
    assert(spark.read.parquet(s"$dL/params").collect()(0)
      .getAs[Int]("bkbloom_bits") == (1 << 20))
  }

  test("merge refuses stores with different probe-bucket moduli") {
    val dA = tmp(); val dB = tmp()
    spark.conf.set("spark.graft.probeBuckets", "16")
    Graft.bm25Index(docs.filter(col("doc_id") % 2 === 0)).save(dA)
    spark.conf.set("spark.graft.probeBuckets", "8")
    Graft.bm25Index(docs.filter(col("doc_id") % 2 =!= 0)).save(dB)
    spark.conf.unset("spark.graft.probeBuckets")
    val e = intercept[IllegalArgumentException] {
      IndexStore.merge(spark, dA, dB)
    }
    assert(e.getMessage.contains("probe-bucket"))
  }
}
