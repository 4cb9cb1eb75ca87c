package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.Graft

/** The persistence contract: save → load → search must equal
  * fresh-build → search BIT-FOR-BIT (same rows, same order, same
  * doubles — parquet is lossless for every stored type, so equality is
  * exact, not approximate), and the append/drift contracts (e26/e27/
  * e29) must hold on a LOADED index exactly as on the in-memory handle
  * that was saved. This is what makes the lifecycle durable: build →
  * persist → serve → append → drift across JVM restarts.
  */
class IndexStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-index-store-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
  private def queries: DataFrame = emb.filter(col("vec_id") < 5)

  private def tmp(): String =
    Files.createTempDirectory("graft-index-store").toString

  /** Ordered, exact row comparison — the outputs under test are
    * orderBy'd, so bit-for-bit means list equality.
    */
  private def exact(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("IVF: save -> load -> search equals fresh-build -> search bit-for-bit") {
    val fresh = Graft.annIndex(emb)
    val d = tmp()
    fresh.save(d)
    val loaded = Graft.loadAnnIndex(spark, d)
    val a = exact(fresh.search(queries))
    assert(a.nonEmpty)
    assert(exact(loaded.search(queries)) == a)
  }

  test("IVF: saved assigned corpus is hive-partitioned by cell (the ivfServePruned layout)") {
    val d = tmp()
    Graft.annIndex(emb).save(d)
    val parts = new java.io.File(s"$d/assigned").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(parts.nonEmpty)
    // and a cell-filtered read prunes to that partition's files alone
    val one = spark.read.parquet(s"$d/assigned")
      .where(col("cell") === parts.head.stripPrefix("cell=").toInt)
    assert(one.count() > 0)
  }

  test("IVF: e26 append contract holds on a loaded index") {
    val snapshot = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
    val fresh = Graft.annIndex(snapshot)
    val d = tmp()
    fresh.save(d)
    val viaLoaded = Graft.loadAnnIndex(spark, d).append(arrivals)
    assert(exact(viaLoaded.search(queries))
      == exact(fresh.append(arrivals).search(queries)))
  }

  test("IVF: drift report on a loaded index equals the fresh handle's") {
    val snapshot = emb.filter(col("vec_id") % 5 =!= 0)
    val sample = emb.filter(col("vec_id") % 5 === 0)
    val fresh = Graft.annIndex(snapshot)
    val d = tmp()
    fresh.save(d)
    assert(exact(Graft.loadAnnIndex(spark, d).drift(sample).orderBy("cell"))
      == exact(fresh.drift(sample).orderBy("cell")))
  }

  test("PQ: save -> load -> search and rerank equal fresh bit-for-bit on the e09 query set") {
    val fresh = Graft.pqIndex(emb)
    val d = tmp()
    fresh.save(d)
    val loaded = Graft.loadPqIndex(spark, d)
    val s = exact(fresh.search(queries))
    assert(s.nonEmpty)
    assert(exact(loaded.search(queries)) == s)
    assert(exact(loaded.rerank(queries)) == exact(fresh.rerank(queries)))
  }

  test("PQ: e27 frozen-codebook append contract holds on a loaded index") {
    val snapshot = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    val fresh = Graft.pqIndex(snapshot)
    val d = tmp()
    fresh.save(d)
    val viaLoaded = Graft.loadPqIndex(spark, d).append(arrivals)
    assert(exact(viaLoaded.search(queries))
      == exact(fresh.append(arrivals).search(queries)))
    // the appended vectors also join the rerank fetch corpus
    assert(exact(viaLoaded.rerank(queries))
      == exact(fresh.append(arrivals).rerank(queries)))
  }

  test("IVF-PQ: save -> load -> search equals fresh, and e29 append holds on a loaded index") {
    val snapshot = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    val fresh = Graft.ivfPqIndex(snapshot)
    val d = tmp()
    fresh.save(d)
    val loaded = Graft.loadIvfPqIndex(spark, d)
    val s = exact(fresh.search(queries))
    assert(s.nonEmpty)
    assert(exact(loaded.search(queries)) == s)
    assert(exact(loaded.append(arrivals).search(queries))
      == exact(fresh.append(arrivals).search(queries)))
    // rerank adds nothing to the stored layout, so a loaded handle
    // reranks identically (raw vectors come from the source table)
    assert(exact(loaded.rerank(queries, snapshot))
      == exact(fresh.rerank(queries, snapshot)))
  }

  test("filtered search on a loaded index equals fresh, all three families") {
    // the durability × filter cross: searchWhere (e24/e39/e40) runs the
    // same gated kernel on a loaded handle as on the handle that saved
    val keep = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .select(col("doc_id").as("vec_id"))
    val dIvf = tmp(); val dPq = tmp(); val dC = tmp()
    val ivf = Graft.annIndex(emb); ivf.save(dIvf)
    val pq = Graft.pqIndex(emb); pq.save(dPq)
    val c = Graft.ivfPqIndex(emb); c.save(dC)
    val a = exact(ivf.searchWhere(queries, keep))
    assert(a.nonEmpty)
    assert(exact(Graft.loadAnnIndex(spark, dIvf).searchWhere(queries, keep)) == a)
    assert(exact(Graft.loadPqIndex(spark, dPq).searchWhere(queries, keep))
      == exact(pq.searchWhere(queries, keep)))
    assert(exact(Graft.loadIvfPqIndex(spark, dC).searchWhere(queries, keep))
      == exact(c.searchWhere(queries, keep)))
  }

  test("Bloom: save -> load preserves words and mBits; probe equals the live sketch") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val live = Graft.bloomSketch(Graft.segmentHashes(corpus))
    val d = tmp()
    live.save(d)
    val loaded = Graft.loadBloomIndex(spark, d)
    assert(loaded.mBits == live.mBits)
    val a = exact(Graft.bloomScreen(batch, live).orderBy("doc_id", "h"))
    assert(a.nonEmpty)
    assert(exact(Graft.bloomScreen(batch, loaded).orderBy("doc_id", "h")) == a)
    // the merge modulus guard carries over the round-trip
    assert(exact(loaded.merge(live).words.orderBy("w")).nonEmpty)
  }

  test("durable append: all three families write INTO the layout; a fresh load sees the union") {
    val snapshot7 = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals7 = emb.filter(col("vec_id") % 7 === 0)
    // PQ: appendDurable ≡ in-memory append, through a handle that
    // shares nothing with the appender (the restart seam)
    val dPq = tmp()
    val freshPq = Graft.pqIndex(snapshot7)
    freshPq.save(dPq)
    Graft.loadPqIndex(spark, dPq).appendDurable(dPq, arrivals7)
    val reloadedPq = Graft.loadPqIndex(spark, dPq)
    assert(exact(reloadedPq.search(queries))
      == exact(freshPq.append(arrivals7).search(queries)))
    assert(exact(reloadedPq.rerank(queries))
      == exact(freshPq.append(arrivals7).rerank(queries)))
    // IVF (different split — the % 5 snapshot matches e26)
    val snapshot5 = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals5 = emb.filter(col("vec_id") % 5 === 0)
    val dIvf = tmp()
    val freshIvf = Graft.annIndex(snapshot5)
    freshIvf.save(dIvf)
    Graft.loadAnnIndex(spark, dIvf).appendDurable(dIvf, arrivals5)
    assert(exact(Graft.loadAnnIndex(spark, dIvf).search(queries))
      == exact(freshIvf.append(arrivals5).search(queries)))
    // IVF-PQ
    val dIp = tmp()
    val freshIp = Graft.ivfPqIndex(snapshot7)
    freshIp.save(dIp)
    Graft.loadIvfPqIndex(spark, dIp).appendDurable(dIp, arrivals7)
    assert(exact(Graft.loadIvfPqIndex(spark, dIp).search(queries))
      == exact(freshIp.append(arrivals7).search(queries)))
    // appending into a directory of the wrong kind fails loudly
    // before any write
    val err = intercept[IllegalArgumentException] {
      Graft.loadPqIndex(spark, dPq).appendDurable(dIvf, arrivals7)
    }
    assert(err.getMessage.contains("ivf"))
  }

  test("compact: small durable appends collapse to few files; reads bit-identical") {
    def parquetFiles(d: String, sub: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$d/$sub"))
        .count(_.getName.endsWith(".parquet"))
    }
    val snapshot = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    // PQ (flat tables)
    val dPq = tmp()
    Graft.pqIndex(snapshot).save(dPq)
    for (i <- 0 until 3)
      Graft.loadPqIndex(spark, dPq)
        .appendDurable(dPq, arrivals.filter(col("vec_id") % 3 === i))
    val beforePq = exact(Graft.loadPqIndex(spark, dPq).search(queries))
    val filesPq = parquetFiles(dPq, "codes")
    Graft.compactIndex(spark, dPq)
    assert(parquetFiles(dPq, "codes") < filesPq,
      s"codes file count must drop: $filesPq -> ${parquetFiles(dPq, "codes")}")
    assert(exact(Graft.loadPqIndex(spark, dPq).search(queries)) == beforePq)
    // IVF (cell-partitioned): compaction lands ONE file per cell
    val dIvf = tmp()
    Graft.annIndex(snapshot).save(dIvf)
    for (i <- 0 until 3)
      Graft.loadAnnIndex(spark, dIvf)
        .appendDurable(dIvf, arrivals.filter(col("vec_id") % 3 === i))
    val beforeIvf = exact(Graft.loadAnnIndex(spark, dIvf).search(queries))
    Graft.compactIndex(spark, dIvf)
    val cells = new java.io.File(s"$dIvf/assigned").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cells.nonEmpty && cells.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "each cell directory must hold exactly one file after compact")
    assert(exact(Graft.loadAnnIndex(spark, dIvf).search(queries))
      == beforeIvf)
    // IVF-PQ (cell-partitioned code table): one file per cell
    val dIp = tmp()
    Graft.ivfPqIndex(snapshot).save(dIp)
    for (i <- 0 until 3)
      Graft.loadIvfPqIndex(spark, dIp)
        .appendDurable(dIp, arrivals.filter(col("vec_id") % 3 === i))
    val beforeIp = exact(Graft.loadIvfPqIndex(spark, dIp).search(queries))
    val filesIp = parquetFiles(dIp, "codes")
    Graft.compactIndex(spark, dIp)
    val ipCells = new java.io.File(s"$dIp/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(ipCells.nonEmpty && ipCells.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "each ivfpq cell directory must hold exactly one file after compact")
    assert(parquetFiles(dIp, "codes") < filesIp)
    assert(exact(Graft.loadIvfPqIndex(spark, dIp).search(queries))
      == beforeIp)
    // Bloom: every append already rewrites the one word table (a
    // bit_or fold), so compact keeps it at one file and collapses the
    // epoch log the appends accreted
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val dBl = tmp()
    val sketch = Graft.bloomSketch(Graft.segmentHashes(
      docs.filter(col("doc_id") % 4 === 0)))
    sketch.save(dBl)
    for (i <- 1 until 4)
      Graft.loadBloomIndex(spark, dBl)
        .appendDurable(dBl, docs.filter(col("doc_id") % 4 === i))
    val beforeBl = exact(Graft.loadBloomIndex(spark, dBl).words.orderBy("w"))
    val epochFilesBl = parquetFiles(dBl, "epochs")
    Graft.compactIndex(spark, dBl)
    assert(parquetFiles(dBl, "words") == 1)
    assert(parquetFiles(dBl, "epochs") < epochFilesBl,
      s"epoch files must drop: $epochFilesBl -> ${parquetFiles(dBl, "epochs")}")
    assert(exact(Graft.loadBloomIndex(spark, dBl).words.orderBy("w"))
      == beforeBl)
  }

  test("epoch audit: save/append/compact record (seq, op, n_rows) counted from the written files") {
    val snapshot = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
    val d = tmp()
    Graft.annIndex(snapshot).save(d)
    Graft.loadAnnIndex(spark, d).appendDurable(d, arrivals)
    Graft.compactIndex(spark, d)
    val log = exact(Graft.indexEpochs(spark, d)
      .select(col("seq"), col("op"), col("n_rows")))
    assert(log == Seq(
      Seq(1, "save", snapshot.count()),
      Seq(2, "append", arrivals.count()),
      Seq(3, "compact", emb.count())))
    // timestamps are present and non-decreasing
    val ts = Graft.indexEpochs(spark, d).select(col("ts_millis"))
      .collect().map(_.getLong(0)).toSeq
    assert(ts == ts.sorted && ts.forall(_ > 0))
  }

  test("vacuum: removes only orphaned .compact dirs and records the epoch") {
    val d = tmp()
    Graft.annIndex(emb).save(d)
    val before = exact(Graft.loadAnnIndex(spark, d).search(queries))
    // simulate a crash mid-compact: a complete-but-unswapped temp dir
    val orphan = new java.io.File(s"$d/assigned.compact")
    assert(orphan.mkdir())
    Files.write(orphan.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(Graft.vacuumIndex(spark, d) == 1)
    assert(!orphan.exists())
    // live tables untouched; a second vacuum is a no-op
    assert(exact(Graft.loadAnnIndex(spark, d).search(queries)) == before)
    assert(Graft.vacuumIndex(spark, d) == 0)
    val ops = Graft.indexEpochs(spark, d).select(col("op"))
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("save", "vacuum"))
  }

  test("vacuum: restores a table stranded mid-swap instead of deleting the sole copy") {
    val d = tmp()
    Graft.annIndex(emb).save(d)
    val before = exact(Graft.loadAnnIndex(spark, d).search(queries))
    val live = new java.io.File(s"$d/assigned")
    // crash window 1 (between swapInto's renames): live renamed aside,
    // rewrite not yet in place — .old is the sole complete copy
    val aside = new java.io.File(s"$d/assigned.old")
    assert(live.renameTo(aside))
    val junk = new java.io.File(s"$d/assigned.compact")
    assert(junk.mkdir())
    assert(Graft.vacuumIndex(spark, d) == 2) // 1 restore + 1 debris
    assert(live.exists() && !aside.exists() && !junk.exists())
    assert(exact(Graft.loadAnnIndex(spark, d).search(queries)) == before)
    // crash window 2 (rewrite renamed in, aside not yet deleted):
    // .old has a live sibling — debris, cleared without touching live
    assert(aside.mkdir())
    assert(Graft.vacuumIndex(spark, d) == 1)
    assert(live.exists() && !aside.exists())
    assert(exact(Graft.loadAnnIndex(spark, d).search(queries)) == before)
    // sole-copy .compact (a crash under the PRE-swapInto ordering, or
    // a manual rescue): restored, never deleted
    assert(live.renameTo(junk))
    assert(Graft.vacuumIndex(spark, d) == 1)
    assert(live.exists() && !junk.exists())
    assert(exact(Graft.loadAnnIndex(spark, d).search(queries)) == before)
  }

  test("appendBm25 requireNewIds is DEFAULT-ON: a batch re-appending an indexed doc id fails loudly under default conf") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val d = tmp()
    Graft.bm25Index(docs.filter(col("doc_id") % 3 =!= 0)).save(d)
    val idx = Graft.loadBm25Index(spark, d)
    val overlapping = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(docs.filter(col("doc_id") === 1)) // 1 is indexed
    // the round-13 discipline, extended here in round 15: the
    // DEFAULT-conf failure mode is a loud named error (no flag set,
    // no argument passed), never silent idf corruption
    val e = intercept[IllegalArgumentException] {
      idx.appendDurable(d, overlapping)
    }
    assert(e.getMessage.contains("double-count"))
    // the documented opt-out still exists for provably-disjoint
    // producers — the same overlapping batch is ACCEPTED (and df
    // silently double-counts, the documented trade) with it off
    val d2 = tmp()
    Graft.bm25Index(docs.filter(col("doc_id") % 3 =!= 0)).save(d2)
    Graft.loadBm25Index(spark, d2)
      .appendDurable(d2, docs.filter(col("doc_id") === 1),
        requireNewIds = false)
    // disjoint batch passes with the default check on, and scores
    // equal the build-all-at-once index
    val clean = idx.appendDurable(d, docs.filter(col("doc_id") % 3 === 0))
    val q = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    assert(exact(clean.searchText(q)) ==
      exact(Graft.bm25Index(docs).searchText(q)))
  }

  test("blue/green publish: the generation flip is atomic, a serving handle never sees a mixed generation, old gens vacuum away") {
    val root = tmp() + "/gens"
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
    // generation 1: the base build
    val b1 = tmp()
    Graft.annIndex(base).save(b1)
    assert(Graft.publishIndex(spark, root, b1) == 1)
    assert(Graft.currentIndexGeneration(spark, root).map(_._1)
      == Some(1))
    val gen1 = Graft.loadCurrentAnnIndex(spark, root)
    val r1 = exact(gen1.search(queries))
    // generation 2: a forced retrain over base ∪ arrivals, built and
    // published WHILE gen1 serves
    val retrained = gen1.retrainIf(arrivals, maxDriftPpm = -1)
    val r2 = exact(retrained.search(queries))
    val b2 = tmp()
    retrained.save(b2)
    assert(Graft.publishIndex(spark, root, b2) == 2)
    // the already-open handle keeps serving generation 1 BIT-FOR-BIT
    // (its directory was never mutated — no mixed generation exists)
    assert(exact(gen1.search(queries)) == r1)
    // a fresh open resolves generation 2 and serves the retrain
    assert(exact(Graft.loadCurrentAnnIndex(spark, root).search(queries))
      == r2)
    // crash-before-marker: a complete build renamed into the root but
    // unstamped is INVISIBLE, survives vacuum, and re-publishing the
    // same path completes the flip
    val b3 = tmp()
    Graft.annIndex(emb).save(b3)
    assert(new java.io.File(b3)
      .renameTo(new java.io.File(s"$root/g-3")))
    assert(Graft.currentIndexGeneration(spark, root).map(_._1)
      == Some(2))
    assert(Graft.vacuumIndexGenerations(spark, root, keep = 2) == 0)
    assert(new java.io.File(s"$root/g-3").exists())
    assert(Graft.publishIndex(spark, root, s"$root/g-3") == 3)
    assert(Graft.currentIndexGeneration(spark, root).map(_._1)
      == Some(3))
    // GRACE WINDOW (round 14): an immediate vacuum refuses to delete
    // a generation whose successor was JUST published — a serving
    // fleet re-resolves per micro-batch and may still be flipping
    // past the old blue (spark.graft.vacuumGenerationGraceMs,
    // default 1 h)
    assert(Graft.vacuumIndexGenerations(spark, root) == 0,
      "a just-published flip must shield its predecessor")
    assert(new java.io.File(s"$root/g-1").exists())
    // age the successors' publish markers past the window — now the
    // old blues clean away; current survives; keep < 1 refused
    val fsRoot = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(2, 3).foreach { g =>
      fsRoot.setTimes(
        new org.apache.hadoop.fs.Path(s"$root/g-$g/_PUBLISHED"),
        System.currentTimeMillis() - 7200000L, -1)
    }
    assert(Graft.vacuumIndexGenerations(spark, root) == 2)
    assert(!new java.io.File(s"$root/g-1").exists())
    assert(Graft.currentIndexGeneration(spark, root).map(_._1)
      == Some(3))
    assert(Graft.loadCurrentAnnIndex(spark, root)
      .search(queries).count() > 0)
    intercept[IllegalArgumentException] {
      Graft.vacuumIndexGenerations(spark, root, keep = 0)
    }
    // publishing a non-index dir is refused
    intercept[IllegalArgumentException] {
      Graft.publishIndex(spark, root, tmp())
    }
  }

  test("describe: one row per stored table with rows/files/bytes, for every kind") {
    val dIvf = tmp()
    Graft.annIndex(emb).save(dIvf)
    val ivfDesc = Graft.describeIndex(spark, dIvf)
      .collect().map(r => r.getAs[String]("table") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_files"),
          r.getAs[Long]("bytes"))).toMap
    assert(ivfDesc.keySet == Set("assigned", "centroids", "epochs"))
    assert(ivfDesc("assigned")._1 == emb.count())
    assert(ivfDesc.values.forall { case (_, f, b) => f > 0 && b > 0 })
    val dPq = tmp()
    Graft.pqIndex(emb).save(dPq)
    assert(Graft.describeIndex(spark, dPq).select(col("table"))
      .collect().map(_.getString(0)).toSet
      == Set("codes", "codebooks", "corpus", "epochs"))
    assert(Graft.describeIndex(spark, dPq)
      .filter(col("kind") =!= "pq").count() == 0)
    // the other five kinds: every stored table, in describe's order
    def tables(d: String, kind: String): Seq[String] = {
      val rows = Graft.describeIndex(spark, d).collect()
      assert(rows.forall(_.getAs[String]("kind") == kind))
      assert(rows.forall(r =>
        r.getAs[Long]("n_files") > 0 && r.getAs[Long]("bytes") > 0))
      rows.map(_.getAs[String]("table")).toSeq
    }
    val dIp = tmp()
    Graft.ivfPqIndex(emb).save(dIp)
    assert(tables(dIp, "ivfpq") == Seq("codes", "centroids", "codebooks", "epochs"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dLsh = tmp()
    Graft.lshIndex(docs).save(dLsh)
    assert(tables(dLsh, "lsh")
      == Seq("sigs", "bands", "params", "bkbloom", "epochs"))
    val dBm = tmp()
    Graft.bm25Index(docs).save(dBm)
    assert(tables(dBm, "bm25")
      == Seq("postings", "doclen", "df", "stats", "epochs"))
    val media = spark.range(0, 64).toDF("media_id")
      .withColumn("lo", expr("xxhash64(media_id) & 4294967295"))
      .withColumn("hi", expr("xxhash64(media_id + 999) & 4294967295"))
    val dPh = tmp()
    Graft.phashIndex(media).save(dPh)
    assert(tables(dPh, "phash") == Seq("hashes", "bands", "pbbloom", "epochs"))
    val dBl = tmp()
    Graft.bloomSketch(Graft.segmentHashes(docs)).save(dBl)
    assert(tables(dBl, "bloom") == Seq("words", "epochs"))
    // tombstones describe after the kind's tables, before epochs
    Graft.deleteFromIndex(spark, dPh,
      media.filter(col("media_id") < 3).select(col("media_id").as("vec_id")))
    assert(tables(dPh, "phash")
      == Seq("hashes", "bands", "pbbloom", "tombstones", "epochs"))
  }

  test("shard + merge: IVF parallel build equals the append path; shards consumed; epochs logged") {
    val snapshot = emb.filter(col("vec_id") % 5 =!= 0)
    val a1 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0)
    val a2 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 1)
    val idx = Graft.annIndex(snapshot)
    val root = tmp()
    idx.save(s"$root/main")
    idx.shard(s"$root/s1", a1)
    idx.shard(s"$root/s2", a2)
    Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
    Graft.mergeIndex(spark, s"$root/main", s"$root/s2")
    val merged = Graft.loadAnnIndex(spark, s"$root/main")
    assert(exact(merged.search(queries))
      == exact(idx.append(a1.unionByName(a2)).search(queries)))
    // consumed shards are gone; the audit names what each merge moved
    assert(!new java.io.File(s"$root/s1").exists())
    assert(!new java.io.File(s"$root/s2").exists())
    val log = exact(Graft.indexEpochs(spark, s"$root/main")
      .select(col("seq"), col("op"), col("n_rows")))
    assert(log == Seq(
      Seq(1, "save", snapshot.count()),
      Seq(2, "merge", a1.count()),
      Seq(3, "merge", a2.count())))
  }

  test("shard + merge: PQ search and rerank equal the append path") {
    val snapshot = emb.filter(col("vec_id") % 7 =!= 0)
    val a1 = emb.filter(col("vec_id") % 7 === 0 && col("vec_id") % 2 === 0)
    val a2 = emb.filter(col("vec_id") % 7 === 0 && col("vec_id") % 2 === 1)
    val idx = Graft.pqIndex(snapshot)
    val root = tmp()
    idx.save(s"$root/main")
    idx.shard(s"$root/s1", a1)
    idx.shard(s"$root/s2", a2)
    Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
    Graft.mergeIndex(spark, s"$root/main", s"$root/s2")
    val merged = Graft.loadPqIndex(spark, s"$root/main")
    val viaAppend = idx.append(a1.unionByName(a2))
    assert(exact(merged.search(queries)) == exact(viaAppend.search(queries)))
    assert(exact(merged.rerank(queries)) == exact(viaAppend.rerank(queries)))
  }

  test("shard + merge: IVF-PQ equals the append path") {
    // % 7 split, e29's protocol: % 5 empties the every-125th codebook init
    val snapshot = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    val idx = Graft.ivfPqIndex(snapshot)
    val root = tmp()
    idx.save(s"$root/main")
    idx.shard(s"$root/s1", arrivals)
    Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
    assert(exact(Graft.loadIvfPqIndex(spark, s"$root/main").search(queries))
      == exact(idx.append(arrivals).search(queries)))
  }

  test("merge: Bloom directories union by bit_or, equal to the in-memory merge") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val s1 = Graft.bloomSketch(Graft.segmentHashes(half1))
    val s2 = Graft.bloomSketch(Graft.segmentHashes(half2))
    val root = tmp()
    s1.save(s"$root/main")
    s2.save(s"$root/shard")
    Graft.mergeIndex(spark, s"$root/main", s"$root/shard")
    val loaded = Graft.loadBloomIndex(spark, s"$root/main")
    assert(loaded.mBits == s1.mBits)
    assert(exact(loaded.words.orderBy("w"))
      == exact(s1.merge(s2).words.orderBy("w")))
    assert(!new java.io.File(s"$root/shard").exists())
  }

  test("merge: a shard from a DIFFERENT training run is refused; so is a kind mismatch") {
    val root = tmp()
    Graft.annIndex(emb.filter(col("vec_id") % 5 =!= 0)).save(s"$root/main")
    // independently trained centroids differ -> artifact check fires
    Graft.annIndex(emb.filter(col("vec_id") % 3 =!= 0)).save(s"$root/other")
    val err = intercept[IllegalArgumentException] {
      Graft.mergeIndex(spark, s"$root/main", s"$root/other")
    }
    assert(err.getMessage.contains("different centroids"))
    // the refused shard and the dst are both intact
    assert(new java.io.File(s"$root/other/assigned").exists())
    Graft.pqIndex(emb).save(s"$root/pq")
    val kindErr = intercept[IllegalArgumentException] {
      Graft.mergeIndex(spark, s"$root/main", s"$root/pq")
    }
    assert(kindErr.getMessage.contains("'pq'"))
  }

  test("single-writer lock: a concurrent mutator fails loudly; breakLock re-admits; reads never block") {
    val d = tmp()
    Graft.annIndex(emb.filter(col("vec_id") % 5 =!= 0)).save(d)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
    // simulate a live (or crashed) writer holding the lock
    Files.write(java.nio.file.Paths.get(d, ".write.lock"),
      "12345@otherhost @ 1700000000000".getBytes("UTF-8"))
    val idx = Graft.loadAnnIndex(spark, d)
    val err = intercept[IllegalStateException] {
      idx.appendDurable(d, arrivals)
    }
    assert(err.getMessage.contains("locked by another writer")
      && err.getMessage.contains("12345@otherhost"))
    val compactErr = intercept[IllegalStateException] {
      Graft.compactIndex(spark, d)
    }
    assert(compactErr.getMessage.contains("locked"))
    // reads never take the lock
    assert(exact(idx.search(queries)).nonEmpty)
    assert(Graft.describeIndex(spark, d).count() > 0)
    // the refused append wrote nothing - no files, no epoch
    assert(exact(Graft.indexEpochs(spark, d).select(col("op")))
      == Seq(Seq("save")))
    // operator clears the dead holder's lock; mutation proceeds
    assert(Graft.breakIndexLock(spark, d))
    idx.appendDurable(d, arrivals)
    assert(exact(Graft.indexEpochs(spark, d).select(col("op")))
      == Seq(Seq("save"), Seq("append")))
    // ...and the lock is released afterwards: a second mutation works
    Graft.compactIndex(spark, d)
    assert(!new java.io.File(s"$d/.write.lock").exists())
  }

  test("streaming durable append: streamed batches land in the layout; a marked batch id is skipped") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val snapshot = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
      .select("vec_id", "embedding").collect()
      .map(r => graft.streaming.EmbStreams.EmbArrival(r.getLong(0),
        java.sql.Timestamp.valueOf("2026-01-01 09:00:00"),
        r.getSeq[Float](1)))
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val idx = Graft.annIndex(snapshot)
    val d = tmp()
    idx.save(d)
    val cp = Files.createTempDirectory("graft-ingest-cp").toString

    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EmbStreams.EmbArrival]
    val q = idx.appendStreamDurable(stream.toDS(), d, Some(cp))
    stream.addData(b1.toSeq)
    q.processAllAvailable()
    stream.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()

    // a restarted JVM's load serves snapshot + both streamed batches,
    // equal to the batch append path
    val expect = exact(idx.append(
      emb.filter(col("vec_id") % 5 === 0)).search(queries))
    assert(exact(Graft.loadAnnIndex(spark, d).search(queries)) == expect)
    val ops = Graft.indexEpochs(spark, d).select(col("op"))
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("save", "append", "append"))

    // idempotency: a batch id already marked committed is SKIPPED —
    // pre-mark the next id (markers live UNDER THE CHECKPOINT, whose
    // lifetime batch ids are scoped to) and stream more data under it
    val before = spark.read.parquet(s"$d/assigned").count()
    Files.createFile(java.nio.file.Paths.get(
      s"$cp/_graft_commits/batch-2"))
    val q2 = idx.appendStreamDurable(stream.toDS(), d, Some(cp))
    stream.addData(b1.toSeq) // would re-append were the marker ignored
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(s"$d/assigned").count() == before,
      "a marked (already-committed) batch id was re-appended")

    // a SECOND ingest into the same index under a FRESH checkpoint
    // restarts at batch 0 — its batches must append, not be skipped on
    // the previous run's markers (markers are checkpoint-scoped)
    val stream2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EmbStreams.EmbArrival]
    val cp2 = Files.createTempDirectory("graft-ingest-cp2").toString
    val fresh = b1.map(a => a.copy(vec_id = a.vec_id + 900000L))
    val q3 = idx.appendStreamDurable(stream2.toDS(), d, Some(cp2))
    stream2.addData(fresh.toSeq)
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(s"$d/assigned").count() ==
      before + fresh.length,
      "a fresh-checkpoint ingest's batch 0 was skipped on stale markers")
  }

  test("streaming durable append: PQ and IVF-PQ families match their batch append paths") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val snapshot = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivalsDf = emb.filter(col("vec_id") % 7 === 0)
    val arrivals = arrivalsDf.select("vec_id", "embedding").collect()
      .map(r => graft.streaming.EmbStreams.EmbArrival(r.getLong(0),
        java.sql.Timestamp.valueOf("2026-01-01 09:00:00"),
        r.getSeq[Float](1)))
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)

    def ingest(start: org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.EmbStreams.EmbArrival]
        => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.EmbStreams.EmbArrival]
      val q = start(stream)
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      q.stop()
    }

    val pqIdx = Graft.pqIndex(snapshot)
    val dPq = tmp()
    pqIdx.save(dPq)
    ingest(s => pqIdx.appendStreamDurable(s.toDS(), dPq))
    val pqLoaded = Graft.loadPqIndex(spark, dPq)
    val pqExpect = pqIdx.append(arrivalsDf)
    assert(exact(pqLoaded.search(queries))
      == exact(pqExpect.search(queries)))
    assert(exact(pqLoaded.rerank(queries))
      == exact(pqExpect.rerank(queries)))

    val cIdx = Graft.ivfPqIndex(snapshot)
    val dC = tmp()
    cIdx.save(dC)
    ingest(s => cIdx.appendStreamDurable(s.toDS(), dC))
    assert(exact(Graft.loadIvfPqIndex(spark, dC).search(queries))
      == exact(cIdx.append(arrivalsDf).search(queries)))
    assert(Graft.indexEpochs(spark, dC).select(col("op"))
      .collect().map(_.getString(0)).toSeq
      == Seq("save", "append", "append"))
  }

  test("loading a directory of the wrong kind fails loudly") {
    val d = tmp()
    Graft.annIndex(emb).save(d)
    val err = intercept[IllegalArgumentException] {
      Graft.loadPqIndex(spark, d)
    }
    assert(err.getMessage.contains("ivf"))
  }

  test("delete: insert-then-delete returns to the never-inserted index, all three families, live + loaded") {
    val kept = emb.filter(col("vec_id") % 7 =!= 0)
    val extra = emb.filter(col("vec_id") % 7 === 0)
    val extraIds = extra.select(col("vec_id"))

    // IVF — live handle
    val ivf = Graft.annIndex(kept)
    val ivfBase = exact(ivf.search(queries))
    assert(ivfBase.nonEmpty)
    assert(exact(ivf.append(extra).delete(extraIds).search(queries))
      == ivfBase)
    // IVF — durable: append into the layout, tombstone, reload
    val dIvf = tmp()
    ivf.save(dIvf)
    Graft.loadAnnIndex(spark, dIvf).appendDurable(dIvf, extra)
    Graft.deleteFromIndex(spark, dIvf, extraIds)
    assert(exact(Graft.loadAnnIndex(spark, dIvf).search(queries))
      == ivfBase)
    val ivfOps = Graft.indexEpochs(spark, dIvf).select(col("op"))
      .collect().map(_.getString(0)).toSeq
    assert(ivfOps == Seq("save", "append", "delete"))

    // PQ — live handle (search AND the rerank fetch side)
    val pq = Graft.pqIndex(kept)
    val pqBase = exact(pq.search(queries))
    val pqRerankBase = exact(pq.rerank(queries))
    val pqDel = pq.append(extra).delete(extraIds)
    assert(exact(pqDel.search(queries)) == pqBase)
    assert(exact(pqDel.rerank(queries)) == pqRerankBase)
    // PQ — durable
    val dPq = tmp()
    pq.save(dPq)
    Graft.loadPqIndex(spark, dPq).appendDurable(dPq, extra)
    Graft.deleteFromIndex(spark, dPq, extraIds)
    val pqLoaded = Graft.loadPqIndex(spark, dPq)
    assert(exact(pqLoaded.search(queries)) == pqBase)
    assert(exact(pqLoaded.rerank(queries)) == pqRerankBase)

    // IVF-PQ — live handle
    val ivfpq = Graft.ivfPqIndex(kept)
    val ivfpqBase = exact(ivfpq.search(queries))
    assert(exact(ivfpq.append(extra).delete(extraIds).search(queries))
      == ivfpqBase)
    // IVF-PQ — durable
    val dIvfPq = tmp()
    ivfpq.save(dIvfPq)
    Graft.loadIvfPqIndex(spark, dIvfPq).appendDurable(dIvfPq, extra)
    Graft.deleteFromIndex(spark, dIvfPq, extraIds)
    assert(exact(Graft.loadIvfPqIndex(spark, dIvfPq).search(queries))
      == ivfpqBase)
  }

  test("delete: tombstones win over later appends until compact applies and clears them") {
    val kept = emb.filter(col("vec_id") % 5 =!= 0)
    val extra = emb.filter(col("vec_id") % 5 === 0)
    val extraIds = extra.select(col("vec_id"))
    val ivf = Graft.annIndex(kept)
    val base = exact(ivf.search(queries))
    val d = tmp()
    ivf.save(d)

    // delete FIRST, append the same ids AFTER: the tombstone wins
    Graft.deleteFromIndex(spark, d, extraIds)
    Graft.loadAnnIndex(spark, d).appendDurable(d, extra)
    assert(exact(Graft.loadAnnIndex(spark, d).search(queries)) == base,
      "a post-delete append of a tombstoned id must stay masked")

    // compact: applies the tombstones (rows physically gone), clears
    // the side table, search unchanged
    Graft.compactIndex(spark, d)
    assert(!new java.io.File(s"$d/tombstones").exists(),
      "compact must clear applied tombstones")
    assert(exact(Graft.loadAnnIndex(spark, d).search(queries)) == base)
    assert(spark.read.parquet(s"$d/assigned")
      .filter(col("vec_id") % 5 === 0).count() == 0,
      "compact must rewrite tombstoned rows out of the data files")

    // after the clear, re-ingest becomes visible (the documented
    // delete contract)
    Graft.loadAnnIndex(spark, d).appendDurable(d, extra)
    assert(exact(Graft.loadAnnIndex(spark, d).search(queries))
      == exact(ivf.append(extra).search(queries)))

    // describe surfaces the tombstone table while it exists
    Graft.deleteFromIndex(spark, d, extraIds)
    assert(Graft.describeIndex(spark, d).select(col("table"))
      .collect().map(_.getString(0)).toSet
      == Set("assigned", "centroids", "tombstones", "epochs"))
  }

  test("delete: a Bloom sketch refuses tombstones") {
    val d = tmp()
    val spark2 = spark
    import spark2.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Graft.bloomSketch(Graft.segmentHashes(docs)).save(d)
    val err = intercept[IllegalArgumentException] {
      Graft.deleteFromIndex(spark, d, Seq(1L).toDF("vec_id"))
    }
    assert(err.getMessage.contains("Bloom"))
  }

  test("Bloom durable append: bit_or into the stored words equals the union sketch") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val probe = docs.limit(40)

    val d = tmp()
    Graft.bloomSketch(Graft.segmentHashes(half1)).save(d)
    val appended = Graft.loadBloomIndex(spark, d).appendDurable(d, half2)
    // durable-appended sketch ≡ the sketch built over the union in one
    // pass (the incremental-ingest property, now across a restart)
    val whole = Graft.bloomSketch(Graft.segmentHashes(docs))
    assert(exact(Graft.bloomScreen(probe, appended).orderBy("doc_id", "h"))
      == exact(Graft.bloomScreen(probe, whole).orderBy("doc_id", "h")))
    // ...and so does a completely fresh handle (the restart seam)
    assert(exact(Graft.bloomScreen(probe, Graft.loadBloomIndex(spark, d))
      .orderBy("doc_id", "h"))
      == exact(Graft.bloomScreen(probe, whole).orderBy("doc_id", "h")))
    val ops = Graft.indexEpochs(spark, d).select(col("op"))
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("save", "append"))
  }

  test("merge takes BOTH locks: a locked shard (a still-running writer) refuses the merge") {
    val snapshot = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
    val idx = Graft.annIndex(snapshot)
    val root = tmp()
    idx.save(s"$root/main")
    idx.shard(s"$root/s1", arrivals)

    // a writer still holds the SHARD's lock — the merge must fail
    // loudly instead of consuming (and deleting) rows mid-write
    Files.write(java.nio.file.Paths.get(s"$root/s1", ".write.lock"),
      "777@shardwriter @ 1700000000000".getBytes("UTF-8"))
    val err = intercept[IllegalStateException] {
      Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
    }
    assert(err.getMessage.contains("locked by another writer")
      && err.getMessage.contains("777@shardwriter"))
    // nothing moved, nothing deleted, no epoch minted
    assert(new java.io.File(s"$root/s1/assigned").exists())
    assert(exact(Graft.indexEpochs(spark, s"$root/main").select(col("op")))
      == Seq(Seq("save")))
    // ...and no intent left behind (the refusal happened before it)
    assert(!new java.io.File(s"$root/main/.merge.intent").exists())

    // clear the writer's lock: the merge proceeds and consumes the shard
    assert(Graft.breakIndexLock(spark, s"$root/s1"))
    Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
    assert(!new java.io.File(s"$root/s1").exists())
    assert(exact(Graft.loadAnnIndex(spark, s"$root/main").search(queries))
      == exact(idx.append(arrivals).search(queries)))
  }

  test("merge crash protocol: a pending intent refuses other shards and the same shard RESUMES") {
    val snapshot = emb.filter(col("vec_id") % 5 =!= 0)
    val arr1 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0)
    val arr2 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 1)
    val idx = Graft.annIndex(snapshot)
    val root = tmp()
    idx.save(s"$root/main")
    idx.shard(s"$root/s1", arr1)
    idx.shard(s"$root/s2", arr2)

    // simulate a merge of s1 that crashed right after stamping its
    // intent (no files moved yet)
    val before = spark.read.parquet(s"$root/main/assigned").count()
    Files.write(java.nio.file.Paths.get(s"$root/main", ".merge.intent"),
      s"$root/s1\n$before".getBytes("UTF-8"))

    // a DIFFERENT shard is refused while the intent is pending
    val err = intercept[IllegalStateException] {
      Graft.mergeIndex(spark, s"$root/main", s"$root/s2")
    }
    assert(err.getMessage.contains("unfinished merge"))
    assert(new java.io.File(s"$root/s2/assigned").exists())

    // re-running the SAME shard resumes: files move, shard consumed,
    // intent cleared, epoch delta covers the whole shard
    Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
    assert(!new java.io.File(s"$root/s1").exists())
    assert(!new java.io.File(s"$root/main/.merge.intent").exists())
    val mergeRows = Graft.indexEpochs(spark, s"$root/main")
      .filter(col("op") === "merge").select(col("n_rows"))
      .collect().map(_.getLong(0)).toSeq
    assert(mergeRows == Seq(arr1.count()))

    // and the queue unblocks
    Graft.mergeIndex(spark, s"$root/main", s"$root/s2")
    assert(exact(Graft.loadAnnIndex(spark, s"$root/main").search(queries))
      == exact(idx.append(arr1.unionByName(arr2)).search(queries)))
  }

  test("write-lock observability: a live writer heartbeats, a crashed holder goes stale in describe, breakLock stays the explicit remedy") {
    val d = tmp()
    Graft.annIndex(emb).save(d)
    // unlocked: no lock info, no _write_lock row, null obs columns
    assert(Graft.indexLockInfo(spark, d).isEmpty)
    val desc = Graft.describeIndex(spark, d)
    assert(desc.filter(col("table") === "_write_lock").count() == 0)
    assert(desc.filter(col("holder").isNotNull).count() == 0)
    spark.conf.set("spark.graft.lockHeartbeatMs", "50")
    spark.conf.set("spark.graft.lockStaleAfterMs", "400")
    try {
      // LIVE holder: raw age would be ~900 ms > the 400 ms threshold,
      // but the heartbeat keeps the observed age under it — a slow
      // writer is distinguishable from a dead one
      IndexStore.withWriteLock(spark, d) {
        Thread.sleep(900)
        val (holder, age, stale) = IndexStore.lockInfo(spark, d).get
        assert(holder.contains("@"))
        assert(age <= 400 && !stale,
          s"live heartbeating holder read as stale (age=$age)")
      }
      assert(IndexStore.lockInfo(spark, d).isEmpty) // released
      // CRASHED holder: a lock file nobody heartbeats, mtime in the
      // past — describe surfaces it as stale with the holder named
      val lock = new java.io.File(s"$d/.write.lock")
      Files.write(lock.toPath, "12345@deadhost @ 0".getBytes("UTF-8"))
      assert(lock.setLastModified(System.currentTimeMillis() - 100000))
      val row = Graft.describeIndex(spark, d)
        .filter(col("table") === "_write_lock").collect()
      assert(row.length == 1)
      assert(row(0).getAs[Boolean]("stale_suspect"))
      assert(row(0).getAs[String]("holder").contains("deadhost"))
      assert(row(0).getAs[Long]("heartbeat_age_ms") > 400)
      // detection never auto-breaks: a mutator still fails loudly on
      // the stale lock until the operator breaks it explicitly
      val e = intercept[IllegalStateException] {
        Graft.deleteFromIndex(spark, d, emb.select(col("vec_id")).limit(1))
      }
      assert(e.getMessage.contains("deadhost"))
      assert(Graft.breakIndexLock(spark, d))
      assert(Graft.indexLockInfo(spark, d).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.lockHeartbeatMs")
      spark.conf.unset("spark.graft.lockStaleAfterMs")
    }
  }

  test("publish crash recovery: retrying with the vanished buildDir resumes the sole unpublished generation; ambiguity fails naming candidates") {
    val root = tmp() + "/gens"
    val b1 = tmp()
    Graft.annIndex(emb).save(b1)
    assert(Graft.publishIndex(spark, root, b1) == 1)
    // crash window: build renamed to g-2, marker never stamped —
    // retrying with the ORIGINAL (now vanished) path resumes it
    val b2 = tmp()
    Graft.annIndex(emb.filter(col("vec_id") % 2 === 0)).save(b2)
    assert(new java.io.File(b2).renameTo(new java.io.File(s"$root/g-2")))
    assert(Graft.publishIndex(spark, root, b2) == 2)
    assert(Graft.currentIndexGeneration(spark, root).map(_._1) == Some(2))
    // nothing to resume → loud failure
    intercept[IllegalArgumentException] {
      Graft.publishIndex(spark, root, tmp() + "/never-existed")
    }
    // SEVERAL unpublished generations → ambiguous; the failure names
    // them so the operator re-publishes the right root/g-<n> path
    val b3 = tmp(); Graft.annIndex(emb).save(b3)
    val b4 = tmp(); Graft.annIndex(emb).save(b4)
    assert(new java.io.File(b3).renameTo(new java.io.File(s"$root/g-3")))
    assert(new java.io.File(b4).renameTo(new java.io.File(s"$root/g-4")))
    val e = intercept[IllegalStateException] {
      Graft.publishIndex(spark, root, b3)
    }
    assert(e.getMessage.contains("g-3") && e.getMessage.contains("g-4"))
    // explicit re-publish by generation path still completes each
    assert(Graft.publishIndex(spark, root, s"$root/g-3") == 3)
    assert(Graft.publishIndex(spark, root, s"$root/g-4") == 4)
  }

  test("loadCurrent* resolves every store kind through a publish root; unpublished roots fail loudly") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def published(build: String => Unit): String = {
      val root = tmp() + "/root"; val b = tmp()
      build(b)
      Graft.publishIndex(spark, root, b)
      root
    }
    val q7 = docs.filter(col("doc_id") === 7)
      .select(col("doc_id").as("query_id"), col("text"))
    val rB = published(Graft.bm25Index(docs).save(_))
    assert(Graft.loadCurrentBm25Index(spark, rB).searchText(q7).count() > 0)
    val rL = published(Graft.lshIndex(docs.filter(col("doc_id") % 3 =!= 0))
      .save(_))
    assert(Graft.loadCurrentLshIndex(spark, rL)
      .screen(docs.filter(col("doc_id") === 0)).count() > 0)
    val media = spark.range(0, 100).toDF("media_id")
      .withColumn("lo", expr(
        "xxhash64(media_id div 2) & 4294967295 ^ (media_id % 2)"))
      .withColumn("hi", expr("xxhash64(media_id div 2 + 999) & 4294967295"))
    val rP = published(Graft.phashIndex(
      media.filter(col("media_id") % 2 === 1)).save(_))
    assert(Graft.loadCurrentPhashIndex(spark, rP)
      .screen(media.filter(col("media_id") % 2 === 0)).count() > 0)
    val rQ = published(Graft.pqIndex(emb).save(_))
    assert(Graft.loadCurrentPqIndex(spark, rQ).search(queries).count() > 0)
    val rIQ = published(Graft.ivfPqIndex(emb).save(_))
    assert(Graft.loadCurrentIvfPqIndex(spark, rIQ)
      .search(queries).count() > 0)
    val rBl = published(Graft.bloomSketch(Graft.segmentHashes(docs)).save(_))
    assert(Graft.loadCurrentBloomIndex(spark, rBl).words.count() > 0)
    intercept[IllegalStateException] {
      Graft.loadCurrentBm25Index(spark, tmp() + "/nothing-published")
    }
  }

  test("describeIndexGenerations: per-generation kind/published/current/bytes; unpublished builds surface, vacuum reflects") {
    val root = tmp() + "/desc-root"
    assert(Graft.describeIndexGenerations(spark, root).count() == 0)
    val b1 = tmp(); Graft.annIndex(emb).save(b1)
    assert(Graft.publishIndex(spark, root, b1) == 1)
    val b2 = tmp(); Graft.annIndex(emb).save(b2)
    assert(Graft.publishIndex(spark, root, b2) == 2)
    // a crashed publish's residue: the rename landed (g-3), the
    // marker did not — must surface as unpublished and NOT current
    val b3 = tmp() + "/idx"; Graft.annIndex(emb).save(b3)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(b3),
      new org.apache.hadoop.fs.Path(s"$root/g-3")))
    val rows = Graft.describeIndexGenerations(spark, root)
      .orderBy(col("generation")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(rows.forall(_.getString(1) == "ivf"))
    assert(rows.map(_.getBoolean(2)).toSeq == Seq(true, true, false),
      "g-3 has no _PUBLISHED marker")
    assert(rows.map(_.getBoolean(3)).toSeq == Seq(false, true, false),
      "current = the highest PUBLISHED generation, not the highest dir")
    assert(rows.forall(r => r.getLong(4) > 0 && r.getLong(5) > 0))
    // the loader agrees with the frame's `current` column
    assert(Graft.currentIndexGeneration(spark, root).map(_._1)
      .contains(2))
    // vacuum drops the old blue once its successor's publish has aged
    // past the grace window; the pending g-3 is untouched
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$root/g-2/_PUBLISHED"),
      System.currentTimeMillis() - 7200000L, -1)
    assert(Graft.vacuumIndexGenerations(spark, root) == 1)
    assert(Graft.describeIndexGenerations(spark, root)
      .orderBy(col("generation")).collect().map(_.getInt(0)).toSeq
      == Seq(2, 3))
  }

  test("generation-aware serving stream: a mid-stream publish flips the served generation on the next batch, no restart, no mixed batch") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp() + "/serve-root"
    // two DISJOINT corpora — a hit's parity proves which generation
    // served it
    val corpusA = emb.filter(col("vec_id") % 2 === 0)
    val corpusB = emb.filter(col("vec_id") % 2 === 1)
    val bA = tmp(); Graft.annIndex(corpusA).save(bA)
    assert(Graft.publishIndex(spark, root, bA) == 1)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 09:00:00")
    val qvecs = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").collect()
      .map(r => graft.streaming.EmbStreams.EmbQuery(r.getLong(0), ts,
        r.getSeq[Float](1)))
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EmbStreams.EmbQuery]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Seq[Long])]
    val q = Graft.serveCurrentAnnIndex(stream.toDS(), root) {
      (gen, hits) =>
        got += ((gen, hits.select(col("neighbor_id")).collect()
          .map(_.getLong(0)).toSeq))
    }
    try {
      stream.addData(qvecs.toSeq)
      q.processAllAvailable()
      assert(got.map(_._1).toSeq == Seq(1))
      assert(got(0)._2.nonEmpty && got(0)._2.forall(_ % 2 == 0),
        "generation 1 must serve corpus A only")
      // retrain + publish WHILE the stream runs — the very next batch
      // serves generation 2, with no stream restart
      val bB = tmp(); Graft.annIndex(corpusB).save(bB)
      assert(Graft.publishIndex(spark, root, bB) == 2)
      stream.addData(qvecs.toSeq)
      q.processAllAvailable()
      assert(got.map(_._1).toSeq == Seq(1, 2))
      assert(got(1)._2.nonEmpty && got(1)._2.forall(_ % 2 == 1),
        "generation 2 must serve corpus B only — no mixed batch")
    } finally q.stop()
  }

  test("hybridServeCurrent: republishing the lexical store flips the fused ranking mid-stream; batches match the batch fusion of their generation pair") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lexRoot = tmp() + "/lex"; val denRoot = tmp() + "/den"
    val bL1 = tmp()
    Graft.bm25Index(docs.filter(col("doc_id") % 2 === 0)).save(bL1)
    assert(Graft.publishIndex(spark, lexRoot, bL1) == 1)
    val bD = tmp(); Graft.annIndex(emb).save(bD)
    assert(Graft.publishIndex(spark, denRoot, bD) == 1)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 09:00:00")
    val hq = docs.filter(col("doc_id") < 3)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
      .collect().map(r => graft.api.Graft.HybridQuery(
        r.getAs[Long]("doc_id"), ts, r.getAs[String]("text"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    assert(hq.length == 3)
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.api.Graft.HybridQuery]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[((Int, Int), Seq[Seq[Any]])]
    val q = Graft.hybridServeCurrent(lexRoot, denRoot, stream.toDS()) {
      (gens, hits) =>
        got += ((gens, hits.orderBy(col("query_id"), col("rank"))
          .collect().toSeq.map(_.toSeq)))
    }
    try {
      stream.addData(hq.toSeq)
      q.processAllAvailable()
      assert(got.map(_._1).toSeq == Seq((1, 1)))
      // republish the LEXICAL side over the full corpus mid-stream
      val bL2 = tmp(); Graft.bm25Index(docs).save(bL2)
      assert(Graft.publishIndex(spark, lexRoot, bL2) == 2)
      stream.addData(hq.toSeq)
      q.processAllAvailable()
      assert(got.map(_._1).toSeq == Seq((1, 1), (2, 1)))
    } finally q.stop()
    // each batch equals the BATCH fusion through its generation pair
    val qdf = spark.createDataFrame(hq.toSeq.map(h =>
        (h.query_id, h.text, h.embedding)))
      .toDF("query_id", "text", "embedding")
      .select(col("query_id"), col("text"),
        col("embedding").cast("array<float>").as("embedding"))
    val den = Graft.loadCurrentAnnIndex(spark, denRoot)
    val lex1 = Graft.loadBm25Index(spark,
      IndexStore.currentGeneration(spark, lexRoot).map(_._2).get
        .replace("g-2", "g-1"))
    val lex2 = Graft.loadCurrentBm25Index(spark, lexRoot)
    def fused(lex: graft.api.Graft.Bm25Index): Seq[Seq[Any]] =
      Graft.hybridSearch(lex, den, qdf)
        .orderBy(col("query_id"), col("rank"))
        .collect().toSeq.map(_.toSeq)
    assert(got(0)._2 == fused(lex1))
    assert(got(1)._2 == fused(lex2))
    assert(got(0)._2 != got(1)._2,
      "the republished lexical store must change the fused ranking")
  }

  test("commit-marker retention: old markers sweep away; replay idempotency holds on the surviving window") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.graft.commitMarkerKeep", "2")
    try {
      val snapshot = emb.filter(col("vec_id") % 5 =!= 0)
      val arrivals = emb.filter(col("vec_id") % 5 === 0)
        .select("vec_id", "embedding").collect()
        .map(r => graft.streaming.EmbStreams.EmbArrival(r.getLong(0),
          java.sql.Timestamp.valueOf("2026-01-01 09:00:00"),
          r.getSeq[Float](1)))
      val chunks = arrivals.grouped(
        math.max(1, arrivals.length / 4)).toSeq.take(4)
      assert(chunks.length == 4)
      val idx = Graft.annIndex(snapshot)
      val d = tmp()
      idx.save(d)
      val cp = Files.createTempDirectory("graft-sweep-cp").toString
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.EmbStreams.EmbArrival]
      val q = idx.appendStreamDurable(stream.toDS(), d, Some(cp))
      chunks.foreach { c =>
        stream.addData(c.toSeq)
        q.processAllAvailable()
      }
      q.stop()
      // 4 batches (ids 0..3), keep 2: only the newest two survive
      // (the local FS keeps .crc sidecars next to live markers; they
      // delete with their marker — only the batch-N files matter)
      val markers = new java.io.File(s"$cp/_graft_commits")
        .listFiles().map(_.getName).filter(_.startsWith("batch-")).toSet
      assert(markers == Set("batch-2", "batch-3"),
        s"unexpected markers after sweep: $markers")
      // idempotency is about the RECENT window — the next batch id a
      // restart could redeliver is still skippable after the sweep
      val before = spark.read.parquet(s"$d/assigned").count()
      Files.createFile(java.nio.file.Paths.get(
        s"$cp/_graft_commits/batch-4"))
      val q2 = idx.appendStreamDurable(stream.toDS(), d, Some(cp))
      stream.addData(chunks.head.toSeq)
      q2.processAllAvailable()
      q2.stop()
      assert(spark.read.parquet(s"$d/assigned").count() == before,
        "a marked batch id was re-appended after the sweep")
    } finally spark.conf.unset("spark.graft.commitMarkerKeep")
  }

  test("tombstone snapshot fence: an over-threshold tombstone set fails at a named boundary under DEFAULT conf, naming compactIndex") {
    // a healthy store's snapshot stays a bounded local frame
    val d = tmp()
    Graft.annIndex(emb).save(d)
    Graft.deleteFromIndex(spark, d,
      emb.filter(col("vec_id") % 11 === 3).select(col("vec_id")))
    val small = IndexStore.tombstoneSnapshot(spark, d)
    assert(small.isDefined)
    assert(small.get.count() ==
      emb.filter(col("vec_id") % 11 === 3).count())
    // an operator that deletes aggressively while deferring compaction
    // crosses the DEFAULT 10M fence — the failure is a named boundary
    // pointing at the conf and at compactIndex, not a driver OOM
    val dBig = tmp()
    Graft.annIndex(emb).save(dBig)
    Graft.deleteFromIndex(spark, dBig,
      spark.range(10000001L).select(col("id").as("vec_id")))
    val ex = intercept[IllegalStateException] {
      IndexStore.tombstoneSnapshot(spark, dBig)
    }
    assert(ex.getMessage.contains("maxTombstoneSnapshot"))
    assert(ex.getMessage.contains("compactIndex"))
    // the conf is the lever both ways: raised, the same store snapshots
    spark.conf.set("spark.graft.maxTombstoneSnapshot", "20000000")
    try assert(IndexStore.tombstoneSnapshot(spark, dBig)
      .get.count() == 10000001L)
    finally spark.conf.unset("spark.graft.maxTombstoneSnapshot")
  }

  test("describeIndexGenerations: a mid-write generation surfaces its writer's lock (holder, heartbeat age, stale suspicion)") {
    val root = tmp() + "/lock-root"
    val b1 = tmp(); Graft.annIndex(emb).save(b1)
    assert(Graft.publishIndex(spark, root, b1) == 1)
    val b2 = tmp(); Graft.annIndex(emb).save(b2)
    assert(Graft.publishIndex(spark, root, b2) == 2)
    // simulate a writer mid-op on the OLD generation (a late append
    // holding its lock) exactly as withWriteLock creates it
    val lock = new org.apache.hadoop.fs.Path(s"$root/g-1/.write.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false)
    out.write("42@somehost @ 123".getBytes("UTF-8")); out.close()
    try {
      val rows = Graft.describeIndexGenerations(spark, root)
        .orderBy(col("generation")).collect()
      assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
      val (g1, g2) = (rows(0), rows(1))
      assert(g1.getAs[String]("holder") == "42@somehost @ 123")
      assert(g1.getAs[Long]("heartbeat_age_ms") >= 0L)
      assert(!g1.getAs[Boolean]("stale_suspect"),
        "a freshly-touched lock is not yet stale")
      assert(g2.isNullAt(g2.fieldIndex("holder")),
        "unlocked generations carry null lock columns")
      // kinds still resolve through the one batched manifest read
      assert(rows.forall(_.getAs[String]("kind") == "ivf"))
      // a holder that stops heartbeating goes stale in the frame —
      // the blue/green triage signal, one call
      fs.setTimes(lock, System.currentTimeMillis() - 120000L, -1)
      val g1b = Graft.describeIndexGenerations(spark, root)
        .filter(col("generation") === 1).collect()(0)
      assert(g1b.getAs[Boolean]("stale_suspect"))
    } finally fs.delete(lock, false)
  }

  test("bucketed store writes are shuffle-aligned: files per bucket dir = 1 at save, and the rows-per-file salt splits big buckets without changing results") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val qs = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    def filesPerBucket(table: String): Seq[Int] =
      new java.io.File(table).listFiles().filter(_.isDirectory)
        .map(_.listFiles().count(_.getName.startsWith("part-"))).toSeq
    // many upstream tasks must still land ONE file per bucket dir —
    // the files ≈ buckets (not tasks × buckets) contract
    val d = tmp()
    Graft.bm25Index(docs.repartition(4)).save(d)
    val perBucket = filesPerBucket(s"$d/postings")
    assert(perBucket.nonEmpty && perBucket.forall(_ == 1),
      s"expected one postings file per tb dir, got $perBucket")
    assert(filesPerBucket(s"$d/df").forall(_ == 1))
    val dLsh = tmp()
    Graft.lshIndex(docs.repartition(4)).save(dLsh)
    assert(filesPerBucket(s"$dLsh/sigs").forall(_ == 1),
      "lsh sigs must land one file per sb dir")
    // past the rows-per-file target a write salt splits a bucket into
    // k files (the 100 TB file-size bound); results are unchanged
    val expect = Graft.loadBm25Index(spark, d).searchText(qs)
      .collect().toSeq.map(_.toSeq)
    spark.conf.set("spark.graft.storeRowsPerFile", "10")
    val d2 = tmp()
    try Graft.bm25Index(docs.repartition(4)).save(d2)
    finally spark.conf.unset("spark.graft.storeRowsPerFile")
    assert(filesPerBucket(s"$d2/postings").exists(_ > 1),
      "the salt must engage when rows/bucket exceed the target")
    assert(Graft.loadBm25Index(spark, d2).searchText(qs)
      .collect().toSeq.map(_.toSeq) == expect)
    // compact under the DEFAULT target collapses the salted store back
    // to one file per bucket; under a tiny target it keeps hot buckets
    // split — either way reads are bit-identical
    Graft.compactIndex(spark, d2)
    assert(filesPerBucket(s"$d2/postings").forall(_ == 1),
      "default compact = one file per bucket dir")
    assert(Graft.loadBm25Index(spark, d2).searchText(qs)
      .collect().toSeq.map(_.toSeq) == expect)
    spark.conf.set("spark.graft.storeRowsPerFile", "10")
    try Graft.compactIndex(spark, d2)
    finally spark.conf.unset("spark.graft.storeRowsPerFile")
    assert(filesPerBucket(s"$d2/postings").exists(_ > 1),
      "compact must honor the rows-per-file bound too")
    assert(Graft.loadBm25Index(spark, d2).searchText(qs)
      .collect().toSeq.map(_.toSeq) == expect)
    // APPENDS stay k = 1: a many-task micro-batch adds at most ONE
    // file per touched bucket dir (the append ideal — compaction owns
    // long-horizon file counts)
    val d3 = tmp()
    Graft.bm25Index(docs.filter(col("doc_id") % 2 === 0)).save(d3)
    val before = filesPerBucket(s"$d3/postings")
    Graft.loadBm25Index(spark, d3)
      .appendDurable(d3, docs.filter(col("doc_id") % 2 =!= 0)
        .repartition(4))
    val after = filesPerBucket(s"$d3/postings")
    assert(after.sum <= before.sum + after.length,
      s"an append added more than one file to some bucket dir: " +
        s"$before -> $after")
  }

  private def deepRow(d: String, row: String): Long =
    Graft.describeIndex(spark, d, deep = true)
      .filter(col("table") === row).collect()(0).getAs[Long]("n_rows")

  test("PQ crash contract: a corpus-without-codes strand is detected, a blind retry is refused, repair re-encodes ≡ never-crashed, and converges") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val arrivals = emb.filter(col("vec_id") % 2 =!= 0)
      .localCheckpoint()
    val nArr = arrivals.count()
    // the never-crashed reference: save the even half, append the odd
    // half COMPLETELY through the same frozen codebooks
    val dRef = tmp()
    Graft.pqIndex(base).save(dRef)
    val ref = Graft.loadPqIndex(spark, dRef).appendDurable(dRef, arrivals)
    // the crash: appendPq writes corpus FIRST, codes second — inject
    // exactly its first half (the arrivals' raw vectors land, their
    // code rows never do): stranded vectors are INERT — absent from
    // every ADC shortlist — which must READ as unhealthy, not vanish
    val d = tmp()
    Graft.pqIndex(base).save(d)
    arrivals.select(col("vec_id"), col("embedding"))
      .write.mode("append").parquet(s"$d/corpus")
    assert(deepRow(d, "_codes_missing_ids") == nArr,
      "describe(deep) must count the stranded corpus ids")
    // a blind retry (the pre-r16 documented remedy) is REFUSED by the
    // default-on id check — it would duplicate the landed corpus rows
    val e = intercept[IllegalArgumentException] {
      Graft.loadPqIndex(spark, d).appendDurable(d, arrivals)
    }
    assert(e.getMessage.contains("repairIndex"))
    // repair re-encodes the stragglers from (corpus, codebooks) — a
    // pure function, so healed ≡ the never-crashed append bit-for-bit
    val report = Graft.repairIndex(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(report.get("codes_missing_ids").contains(nArr))
    val healed = Graft.loadPqIndex(spark, d)
    assert(exact(healed.search(queries)) == exact(ref.search(queries)))
    assert(exact(healed.rerank(queries)) == exact(ref.rerank(queries)))
    // healthy store: deep rows zero, second repair = empty report
    assert(deepRow(d, "_codes_missing_ids") == 0L)
    assert(deepRow(d, "_duplicate_corpus_ids") == 0L)
    assert(Graft.repairIndex(spark, d).collect().isEmpty,
      "a healed store must repair to an empty report")
  }

  test("PQ/IVF-PQ: a replayed append under the opt-out leaves duplicates that describe counts and repair dedups back to the clean ranking") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val arrivals = emb.filter(col("vec_id") % 2 =!= 0)
      .localCheckpoint()
    val nArr = arrivals.count()
    // ivfpq: single-table append — the hazard is a blind retry of a
    // "failed" attempt that actually committed
    val dRef = tmp()
    Graft.ivfPqIndex(base).save(dRef)
    val ref = Graft.loadIvfPqIndex(spark, dRef)
      .appendDurable(dRef, arrivals)
    val d = tmp()
    Graft.ivfPqIndex(base).save(d)
    val once = Graft.loadIvfPqIndex(spark, d).appendDurable(d, arrivals)
    // the retry is refused by default…
    intercept[IllegalArgumentException] {
      once.appendDurable(d, arrivals)
    }
    // …but an opt-out producer can still replay; describe counts it
    once.appendDurable(d, arrivals, requireNewIds = false)
    assert(deepRow(d, "_duplicate_codes_ids") == nArr)
    val report = Graft.repairIndex(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(report.get("duplicate_codes_ids").contains(nArr))
    assert(exact(Graft.loadIvfPqIndex(spark, d).search(queries))
      == exact(ref.search(queries)))
    assert(deepRow(d, "_duplicate_codes_ids") == 0L)
    assert(Graft.repairIndex(spark, d).collect().isEmpty)
    // pq: the same replay duplicates codes AND corpus; one repair
    // dedups both and the rerank fetch stops fanning out
    val dP = tmp(); val dPRef = tmp()
    Graft.pqIndex(base).save(dPRef)
    val pRef = Graft.loadPqIndex(spark, dPRef)
      .appendDurable(dPRef, arrivals)
    Graft.pqIndex(base).save(dP)
    val pOnce = Graft.loadPqIndex(spark, dP).appendDurable(dP, arrivals)
    pOnce.appendDurable(dP, arrivals, requireNewIds = false)
    assert(deepRow(dP, "_duplicate_codes_ids") == nArr)
    assert(deepRow(dP, "_duplicate_corpus_ids") == nArr)
    val pReport = Graft.repairIndex(spark, dP).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(pReport.get("duplicate_codes_ids").contains(nArr))
    assert(pReport.get("duplicate_corpus_ids").contains(nArr))
    val pHealed = Graft.loadPqIndex(spark, dP)
    assert(exact(pHealed.search(queries)) == exact(pRef.search(queries)))
    assert(exact(pHealed.rerank(queries)) == exact(pRef.rerank(queries)))
    assert(Graft.repairIndex(spark, dP).collect().isEmpty)
  }

  test("LSH: a consistently-duplicated primary converges — repair dedups and rebuilds, a second repair reports empty (ADVICE r15)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val stored = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") === 0).localCheckpoint()
    val d = tmp()
    Graft.lshIndex(stored).save(d)
    val cleanVerdicts = exact(Graft.loadLshIndex(spark, d).screen(batch))
    // a replayed append without markers duplicates BOTH tables
    // CONSISTENTLY (bands are a pure per-row function of sigs): the
    // pre-r16 coverage check compared n_band against a fixed nBands
    // and flagged such ids on EVERY run — repair rewrote the band
    // table forever without converging
    val dupIds = stored.filter(col("doc_id") < 50)
      .select(col("doc_id").as("vec_id"))
    def replay(table: String, partCols: Seq[String]): Unit = {
      val rows = spark.read.parquet(s"$d/$table")
        .join(dupIds, Seq("vec_id"), "left_semi").localCheckpoint()
      val pc = partCols.filter(rows.columns.contains)
      if (pc.nonEmpty)
        rows.write.mode("append").partitionBy(pc: _*)
          .parquet(s"$d/$table")
      else rows.write.mode("append").parquet(s"$d/$table")
    }
    replay("sigs", Seq("sb"))
    replay("bands", Seq("band", "bb"))
    val nDup = dupIds.count()
    assert(deepRow(d, "_duplicate_primary_ids") == nDup)
    // consistent duplication is NOT a coverage inconsistency (n_band
    // scales with the primary row count) — the two defects are
    // separately named
    assert(deepRow(d, "_band_coverage_inconsistent_ids") == 0L)
    val report = Graft.repairIndex(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(report.get("duplicate_primary_ids").contains(nDup))
    // after the primary dedup the duplicated bands ARE inconsistent
    // with the healed primary — the same run rebuilds them
    assert(report.contains("band_coverage_inconsistent_ids"))
    assert(exact(Graft.loadLshIndex(spark, d).screen(batch))
      == cleanVerdicts, "healed verdicts must equal pre-replay")
    assert(deepRow(d, "_duplicate_primary_ids") == 0L)
    assert(deepRow(d, "_band_coverage_inconsistent_ids") == 0L)
    assert(Graft.repairIndex(spark, d).collect().isEmpty,
      "the healthy-repairs-to-empty invariant must converge")
  }

  test("mutating ops validate the manifest: a newer layout version or an unknown kind fails loudly, writing nothing") {
    def rewriteManifest(d: String, kind: String, version: Int): Unit = {
      import spark.implicits._
      Seq((kind, version, 0L, 0L)).toDF("kind", "version", "m_bits", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/manifest")
    }
    val ids = emb.filter(col("vec_id") < 3).select(col("vec_id"))
    for ((kind, version, msg) <- Seq(
        ("ivf", 3, "layout version 3"), ("nope", 2, "'nope'"))) {
      val d = tmp()
      Graft.annIndex(emb).save(d)
      rewriteManifest(d, kind, version)
      val ops: Seq[(String, () => Any)] = Seq(
        "compact" -> (() => Graft.compactIndex(spark, d)),
        "delete" -> (() => Graft.deleteFromIndex(spark, d, ids)),
        "repair" -> (() => Graft.repairIndex(spark, d).collect()))
      ops.foreach { case (op, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(msg),
          s"$op on a ($kind, v$version) manifest: ${e.getMessage}")
      }
      assert(!new java.io.File(s"$d/tombstones").exists(),
        "a refused delete must write no tombstones")
      assert(Graft.indexEpochs(spark, d).count() == 1L,
        "a refused op must record no epoch")
    }
  }

  test("IVF and IVF-PQ save/shard persist the handle's pulled centroids, even after the training input grew") {
    // % 7 split, e29's protocol: % 5 empties the every-125th codebook init
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    val grown = emb.filter(col("vec_id") % 7 === 0 && col("vec_id") % 2 === 0)
      .withColumn("label", (col("label") + 1) % 3)
    val arrivals = emb.filter(col("vec_id") % 7 === 0 && col("vec_id") % 2 === 1)
    for (family <- Seq("ivf", "ivfpq")) {
      // a cached training frame over a directory that keeps receiving
      // data: refreshByPath re-lists it, so its lazy centroid frame
      // would now average rows the assignments never saw
      val src = tmp() + "/corpus"
      base.write.parquet(src)
      val train = spark.read.parquet(src).cache()
      val (save, shard, snapshot) =
        if (family == "ivf") {
          val idx = Graft.annIndex(train)
          ((d: String) => idx.save(d),
            (d: String, v: DataFrame) => idx.shard(d, v),
            idx.centroids.collect())
        } else {
          val idx = Graft.ivfPqIndex(train)
          ((d: String) => idx.save(d),
            (d: String, v: DataFrame) => idx.shard(d, v),
            idx.centroids.collect())
        }
      grown.write.mode("append").parquet(src)
      spark.catalog.refreshByPath(src)
      val root = tmp()
      save(s"$root/main")
      shard(s"$root/s1", arrivals)
      def stored(d: String) = spark.read.parquet(s"$d/centroids")
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
      val want = snapshot.map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
      assert(stored(s"$root/main") == want, s"$family: saved centroids")
      assert(stored(s"$root/s1") == want, s"$family: shard centroids")
      Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
      assert(!new java.io.File(s"$root/s1").exists())
      train.unpersist()
    }
  }
}
