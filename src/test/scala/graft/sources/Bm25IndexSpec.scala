package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.Graft

/** The durable BM25 store's lifecycle contract: save → load →
  * searchText ≡ live bit-for-bit (Long tf/dl/df round-trip parquet
  * exactly; scores carry e22's float-cast protocol), append/shard/
  * merge fold the df aggregate correctly, deletes exclude documents
  * immediately with Lucene's idf-stale-until-compact semantics, and
  * hybridSearch fuses the two persisted halves exactly as e22's gated
  * RRF step.
  */
class Bm25IndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-bm25-index-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docs: DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def queries: DataFrame = docs.filter(col("doc_id") < 5)
    .select(col("doc_id").as("query_id"), col("text"))

  private def tmp(): String =
    Files.createTempDirectory("graft-bm25-index").toString

  private def exact(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("save -> load -> searchText equals the live handle bit-for-bit") {
    val live = Graft.bm25Index(docs)
    val d = tmp()
    live.save(d)
    val a = exact(live.searchText(queries))
    assert(a.nonEmpty)
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries)) == a)
  }

  test("append and appendDurable equal build-all-at-once (the df fold is exact)") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val expect = exact(Graft.bm25Index(docs).searchText(queries))

    assert(exact(Graft.bm25Index(half1).append(half2)
      .searchText(queries)) == expect)

    val d = tmp()
    Graft.bm25Index(half1).save(d)
    Graft.loadBm25Index(spark, d).appendDurable(d, half2)
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == expect)
    val ops = Graft.indexEpochs(spark, d).select(col("op"))
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("save", "append"))
    // the df table folded, not appended: one row per term
    val dfDups = spark.read.parquet(s"$d/df")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    assert(dfDups == 0, "df must fold to one row per term")
    // and the PARTIAL fold's contents equal the built-all-at-once df
    // exactly — the per-bucket swap is an optimization, not a new
    // aggregation
    val foldedDf = spark.read.parquet(s"$d/df")
      .select(col("tok"), col("df")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val wholeDf = Graft.bm25Index(docs).df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(foldedDf == wholeDf,
      "partial-folded df diverged from the whole build's df")
  }

  test("partial df fold: an append rewrites ONLY the batch tokens' buckets; a stranded aside bucket restores on the next append") {
    // a batch with ONE novel token touches exactly one tb bucket —
    // every other bucket's files must be byte-identical (same names,
    // same mtimes)
    val spark2 = spark
    import spark2.implicits._
    val d = tmp()
    Graft.bm25Index(docs).save(d)
    val nb = spark.read.parquet(s"$d/manifest")
      .select(col("n_buckets")).head().getLong(0).toInt
    assert(nb > 0)
    def bucketFiles(): Map[String, Seq[String]] =
      new java.io.File(s"$d/df").listFiles().filter(_.isDirectory)
        .map(p => p.getName -> p.listFiles()
          .map(f => s"${f.getName}@${f.lastModified}").toSeq.sorted)
        .toMap
    val before = bucketFiles()
    val novel = Seq((900000L, "zzznoveltokenzzz")).toDF("doc_id", "text")
    Graft.loadBm25Index(spark, d).appendDurable(d, novel)
    val after = bucketFiles()
    val novelTb = spark.range(1).select(
      pmod(hash(lit("zzznoveltokenzzz")), lit(nb)).as("tb"))
      .head().getInt(0)
    val changed = after.keySet.filter(k =>
      before.get(k) != after.get(k))
    assert(changed == Set(s"tb=$novelTb"),
      s"expected only tb=$novelTb to change, got $changed " +
        s"(of ${after.size} buckets)")
    // crash simulation: strand one bucket aside (the state a crash
    // between the two per-bucket renames leaves) — the next append
    // restores it before folding, and search sees every token again.
    // Expectation = the same corpus built from scratch (the second
    // novel doc changes N, hence every idf, so ranks must compare
    // against the post-append corpus, not the pre-append one).
    val novel2 = Seq((900001L, "zzzothertokenzzz")).toDF("doc_id", "text")
    val expect = exact(Graft.bm25Index(
        docs.select(col("doc_id"), col("text"))
          .unionByName(novel).unionByName(novel2))
      .searchText(queries))
    val strand = before.keySet.head
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$d/df.oldparts"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$d/df/$strand"),
      new org.apache.hadoop.fs.Path(s"$d/df.oldparts/$strand")))
    Graft.loadBm25Index(spark, d).appendDurable(d, novel2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/df.oldparts")),
      "the aside dir must be consumed by the restore pass")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$d/df/$strand")),
      "the stranded bucket must be restored")
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == expect, "restore + novel-token appends must not change ranks")
    // vacuum also handles the residue (idempotent on a healthy store)
    Graft.vacuumIndex(spark, d)
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == expect)
  }

  test("delete excludes docs immediately; idf heals at compact (Lucene semantics)") {
    val kept = docs.filter(col("doc_id") % 7 =!= 0)
    val extra = docs.filter(col("doc_id") % 7 === 0)
    val extraIds = extra.select(col("doc_id").as("vec_id"))
    val neverInserted = exact(Graft.bm25Index(kept).searchText(queries))

    // live: deleted docs vanish from results at once
    val deleted = Graft.bm25Index(docs).delete(extraIds)
    val extraSet = extra.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val liveHits = deleted.searchText(queries).collect()
      .map(_.getAs[Long]("doc_id"))
    assert(liveHits.nonEmpty && !liveHits.exists(extraSet),
      "a deleted doc surfaced in live BM25 results")

    // durable: tombstones mask on load; compact recomputes df, after
    // which search equals the never-inserted build EXACTLY
    val d = tmp()
    Graft.bm25Index(kept).save(d)
    Graft.loadBm25Index(spark, d).appendDurable(d, extra)
    Graft.deleteFromIndex(spark, d, extraIds)
    val preCompact = Graft.loadBm25Index(spark, d).searchText(queries)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(!preCompact.exists(extraSet))
    Graft.compactIndex(spark, d)
    assert(!new java.io.File(s"$d/tombstones").exists())
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == neverInserted,
      "post-compact BM25 must equal the never-inserted build exactly")
    val tables = Graft.describeIndex(spark, d).select(col("table"))
      .collect().map(_.getString(0)).toSet
    assert(tables == Set("postings", "doclen", "df", "stats", "epochs"))
  }

  test("shard + merge equals the append path (df folds across shards)") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val root = tmp()
    val idx = Graft.bm25Index(half1)
    idx.save(s"$root/main")
    idx.shard(s"$root/s1", half2)
    Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
    assert(!new java.io.File(s"$root/s1").exists())
    assert(exact(Graft.loadBm25Index(spark, s"$root/main")
      .searchText(queries))
      == exact(Graft.bm25Index(docs).searchText(queries)))
  }

  test("mergeIndex refuses a side with a pending df fold; repairIndex unblocks it") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val root = tmp()
    val idx = Graft.bm25Index(half1)
    idx.save(s"$root/main")
    idx.shard(s"$root/s1", half2)
    // a crashed fold's intent on the DESTINATION: merging would fold
    // the shard's df onto a possibly-mixed base — refused loudly
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/main/df.fold.intent"),
      true).close()
    val e = intercept[IllegalArgumentException] {
      Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
    }
    assert(e.getMessage.contains("repairIndex"), e.getMessage)
    assert(new java.io.File(s"$root/s1").exists(),
      "a refused merge must leave the shard untouched")
    // the named remedy unblocks: repair clears the intent, the merge
    // then equals the never-crashed path exactly
    Graft.repairIndex(spark, s"$root/main")
    Graft.mergeIndex(spark, s"$root/main", s"$root/s1")
    assert(exact(Graft.loadBm25Index(spark, s"$root/main")
      .searchText(queries))
      == exact(Graft.bm25Index(docs).searchText(queries)))
  }

  test("streaming durable ingest (BM25 + Bloom) equals the batch append path") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 09:00:00")
    val arrivals = half2.select(col("doc_id"), col("text")).collect()
      .map(r => graft.streaming.DocStreams.Doc(r.getLong(0), ts,
        r.getString(1)))
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)

    // BM25: two streamed micro-batches land in the layout
    val dBm = tmp()
    val bm = Graft.bm25Index(half1)
    bm.save(dBm)
    val s1 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.DocStreams.Doc]
    val q1 = bm.appendStreamDurable(s1.toDS(), dBm,
      Some(Files.createTempDirectory("bm25-cp").toString))
    s1.addData(b1.toSeq); q1.processAllAvailable()
    s1.addData(b2.toSeq); q1.processAllAvailable()
    q1.stop()
    assert(exact(Graft.loadBm25Index(spark, dBm).searchText(queries))
      == exact(Graft.bm25Index(docs).searchText(queries)))
    assert(Graft.indexEpochs(spark, dBm).select(col("op"))
      .collect().map(_.getString(0)).toSeq
      == Seq("save", "append", "append"))

    // Bloom: streamed folds equal the one-pass union sketch
    val dBl = tmp()
    val bl = Graft.bloomSketch(Graft.segmentHashes(half1))
    bl.save(dBl)
    val s2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.DocStreams.Doc]
    val q2 = bl.appendStreamDurable(s2.toDS(), dBl,
      Some(Files.createTempDirectory("bloom-cp").toString))
    s2.addData(b1.toSeq); q2.processAllAvailable()
    s2.addData(b2.toSeq); q2.processAllAvailable()
    q2.stop()
    val probe = docs.limit(40)
    val whole = Graft.bloomSketch(Graft.segmentHashes(docs))
    assert(exact(Graft.bloomScreen(probe,
      Graft.loadBloomIndex(spark, dBl)).orderBy("doc_id", "h"))
      == exact(Graft.bloomScreen(probe, whole).orderBy("doc_id", "h")))
  }

  test("hybridSearch over the two persisted halves equals hand-fused component ranks") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val dLex = tmp(); val dDense = tmp()
    Graft.bm25Index(docs).save(dLex)
    Graft.annIndex(emb).save(dDense)
    val lex = Graft.loadBm25Index(spark, dLex)
    val dense = Graft.loadAnnIndex(spark, dDense)
    val q = queries
      .join(emb.select(col("vec_id").as("query_id"), col("embedding")),
        Seq("query_id"))

    val fused = Graft.hybridSearch(lex, dense, q, k = 5, fetch = 20)
    val got = fused.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty)

    // hand-fuse the component searches with e22's formula; e22 drops
    // each query's own document from the lexical list (the dense
    // search already does), so take one extra hit, drop self and
    // re-rank before cutting to the fetch depth
    val bm = lex.searchText(q.select(col("query_id"), col("text")), 21)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("doc_id"),
        r.getAs[Long]("rank")))
      .filter { case (qid, did, _) => qid != did }
      .groupBy(_._1).values.flatMap(_.sortBy(_._3).take(20).zipWithIndex
        .map { case ((qid, did, _), i) => (qid, did) -> (i + 1L) })
      .toMap
    val cos = dense.search(q.select(col("query_id").as("vec_id"),
        col("embedding")), 2, 20)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))
        -> r.getAs[Long]("rank")).toMap
    val keys = bm.keySet ++ cos.keySet
    val expect = keys.groupBy(_._1).flatMap { case (qid, ks) =>
      ks.toSeq.map { k =>
        val rrf = bm.get(k).map(r => 1.0 / (r + 60)).getOrElse(0.0) +
          cos.get(k).map(r => 1.0 / (r + 60)).getOrElse(0.0)
        (qid, k._2, BigDecimal(rrf).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex.map {
        case ((q2, did, rrf), i) => (q2, (i + 1).toLong, did, rrf)
      }
    }.toSeq
    assert(got.toSet == expect.toSet,
      s"fusion diverged:\n got=$got\n exp=$expect")

    // the STREAMED hybrid serving runs the same fusion per micro-batch
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts = java.sql.Timestamp.valueOf("2026-01-01 09:00:00")
    val hq = q.collect().map(r => Graft.HybridQuery(
      r.getAs[Long]("query_id"), ts, r.getAs[String]("text"),
      r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val (b1, b2) = hq.splitAt(2)
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Graft.HybridQuery]
    val hits = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
    val sq = Graft.hybridServe(lex, dense, stream.toDS()) { b =>
      hits.synchronized {
        hits ++= b.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getDouble(3)))
      }
    }
    stream.addData(b1.toSeq); sq.processAllAvailable()
    stream.addData(b2.toSeq); sq.processAllAvailable()
    sq.stop()
    assert(hits.toSet == got.toSet,
      "streamed hybrid serving diverged from the batch fusion")
  }

  test("hybridSearch and hybridServe never return a query's own document") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val lex = Graft.bm25Index(docs)
    val dense = Graft.annIndex(emb)
    val q = queries
      .join(emb.select(col("vec_id").as("query_id"), col("embedding")),
        Seq("query_id"))
    val got = Graft.hybridSearch(lex, dense, q).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    assert(got.forall { case (qid, did) => qid != did },
      s"a query retrieved itself: $got")

    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts = java.sql.Timestamp.valueOf("2026-01-01 09:00:00")
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Graft.HybridQuery]
    val served = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val sq = Graft.hybridServe(lex, dense, stream.toDS()) { b =>
      served.synchronized {
        served ++= b.collect().map(r => (r.getLong(0), r.getLong(2)))
      }
    }
    stream.addData(q.collect().toSeq.map(r => Graft.HybridQuery(
      r.getAs[Long]("query_id"), ts, r.getAs[String]("text"),
      r.getAs[scala.collection.Seq[Float]]("embedding").toSeq)))
    sq.processAllAvailable()
    sq.stop()
    assert(served.nonEmpty)
    assert(served.forall { case (qid, did) => qid != did },
      s"a served query retrieved itself: $served")
  }

  test("bloomScreenStreamCurrent: a mid-stream publish flips the probed sketch generation, no restart, no mixed batch") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 =!= 0)
    val root = tmp() + "/bloom-root"
    val b1 = tmp()
    Graft.bloomSketch(Graft.segmentHashes(even)).save(b1)
    assert(Graft.publishIndex(spark, root, b1) == 1)

    // the probe batch IS the generation-1 corpus: a Bloom has no
    // false negatives, so gen 1 must hit on EVERY segment; gen 2
    // (built from the disjoint odd half) cannot — any all-true batch
    // would mean the old sketch leaked
    val ts = java.sql.Timestamp.valueOf("2026-01-01 09:00:00")
    val batch = even.limit(50).select(col("doc_id"), col("text"))
      .collect().map(r => graft.streaming.DocStreams.Doc(
        r.getLong(0), ts, r.getString(1)))
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.DocStreams.Doc]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long)] // (gen, n probes, n hits)
    val q = Graft.bloomScreenStreamCurrent(root, stream.toDS()) {
      (gen, v) =>
        val rows = v.select(col("bloom_hit")).collect().map(_.getBoolean(0))
        got += ((gen, rows.length.toLong, rows.count(identity).toLong))
    }
    try {
      stream.addData(batch.toSeq)
      q.processAllAvailable()
      assert(got.map(_._1).toSeq == Seq(1))
      assert(got(0)._2 > 0 && got(0)._3 == got(0)._2,
        "generation 1 must hit every segment of its own corpus " +
          "(a Bloom has no false negatives)")
      val b2 = tmp()
      Graft.bloomSketch(Graft.segmentHashes(odd)).save(b2)
      assert(Graft.publishIndex(spark, root, b2) == 2)
      stream.addData(batch.toSeq)
      q.processAllAvailable()
      assert(got.map(_._1).toSeq == Seq(1, 2))
      assert(got(1)._2 == got(0)._2 && got(1)._3 < got(1)._2,
        s"generation 2 (disjoint corpus) must miss some segments — " +
          s"got ${got(1)._3}/${got(1)._2} hits; all-true means the " +
          "old generation leaked")
    } finally q.stop()
  }

  test("corpus stats persist and fold exactly: save seeds, append adds the batch, compact recomputes post-delete") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    def statsOf(d: String): (Long, Long) = {
      val r = spark.read.parquet(s"$d/stats").collect()(0)
      (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"))
    }
    def truthOf(d: String): (Long, Long) = {
      val r = spark.read.parquet(s"$d/doclen")
        .agg(count(lit(1)), sum(col("dl"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val d = tmp()
    Graft.bm25Index(half1).save(d)
    assert(statsOf(d) == truthOf(d), "save must seed the stats table")
    // append FOLDS (+batch docs, +batch Σdl) — never re-aggregates
    Graft.loadBm25Index(spark, d).appendDurable(d, half2)
    assert(statsOf(d) == truthOf(d), "append must fold the batch in")
    // delete folds the stats NEGATIVELY (round 16): the persisted row
    // drops the tombstoned docs' (count, Σdl) at delete time, so it
    // equals the MASKED aggregate — and a double delete of the same
    // ids subtracts nothing more
    val delIds = half2.select(col("doc_id").as("vec_id"))
    Graft.deleteFromIndex(spark, d, delIds)
    def maskedTruthOf(d: String): (Long, Long) = {
      val t = spark.read.parquet(s"$d/tombstones").select(col("vec_id"))
      val r = spark.read.parquet(s"$d/doclen")
        .join(t, Seq("vec_id"), "left_anti")
        .agg(count(lit(1)), sum(col("dl"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(statsOf(d) == maskedTruthOf(d),
      "delete must fold the tombstoned docs out of the stats")
    Graft.deleteFromIndex(spark, d, delIds)
    assert(statsOf(d) == maskedTruthOf(d),
      "a double delete must not subtract twice")
    // the live equivalent: same full df (idf stays stale until
    // compact — Lucene semantics), masked postings/doclen, masked N
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == exact(Graft.bm25Index(docs).delete(delIds).searchText(queries)),
      "tombstoned store must score with the masked (N, avgdl)")
    // compact applies the tombstones AND recomputes the stats
    Graft.compactIndex(spark, d)
    assert(statsOf(d) == truthOf(d),
      "compact must recompute stats from the surviving doclen")
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == exact(Graft.bm25Index(half1).searchText(queries)))
  }

  test("repairIndex heals a crashed append: orphaned postings detected (describeIndex deep), removed, ranking restored, clean re-append legal") {
    val spark2 = spark
    import spark2.implicits._
    val d = tmp()
    Graft.bm25Index(docs).save(d) // denorm default — orphans scoreable
    val expect = exact(Graft.loadBm25Index(spark, d).searchText(queries))
    val nb = spark.read.parquet(s"$d/manifest")
      .select(col("n_buckets")).head().getLong(0).toInt
    // simulate the crashed-append signature: the batch's postings
    // landed (store layout: dl + tb) but doclen (the commit point)
    // never did. The batch reuses doc 0's text, so its rows join the
    // live df table and REALLY score — the silent corruption the
    // denormalized layout risks
    val doc0 = docs.filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
    val crashed = Seq((900000L, doc0)).toDF("doc_id", "text")
    val b = Graft.bm25Index(crashed)
    b.postings.join(b.doclen, Seq("vec_id"))
      .select(col("vec_id"), col("tok"), col("tf"), col("dl"),
        pmod(hash(col("tok")), lit(nb)).as("tb"))
      .write.mode("append").partitionBy("tb").parquet(s"$d/postings")
    // the corruption is LIVE: the orphan outranks real docs for its
    // own text (it is a verbatim copy of doc 0)
    val hits = Graft.loadBm25Index(spark, d).searchText(queries)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(hits.contains(900000L),
      "fixture must make the orphan actually surface in results")
    // detection: deep describe names the count (the default describe
    // stays metadata-speed)
    val deep = Graft.describeIndex(spark, d, deep = true)
    assert(deep.filter(col("table") === "_orphan_postings_ids")
      .select(col("n_rows")).head().getLong(0) == 1L)
    // heal: one call — orphan rows removed, df recomputed, ranking
    // restored EXACTLY
    val rep = Graft.repairIndex(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rep.get("orphaned_postings_ids").contains(1L), s"report: $rep")
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == expect, "repair must restore the exact pre-crash ranking")
    assert(Graft.describeIndex(spark, d, deep = true)
      .filter(col("table") === "_orphan_postings_ids")
      .select(col("n_rows")).head().getLong(0) == 0L)
    // and the DEFAULT id-contract check now passes a clean re-append
    // of the same batch (pre-repair its postings debris was indexed)
    Graft.loadBm25Index(spark, d).appendDurable(d, crashed)
    assert(Graft.loadBm25Index(spark, d).searchText(queries)
      .select(col("doc_id")).collect().map(_.getLong(0))
      .contains(900000L))
    // a healthy store repairs to an EMPTY report (idempotent)
    val d2 = tmp()
    Graft.bm25Index(docs).save(d2)
    assert(Graft.repairIndex(spark, d2).count() == 0L)
  }

  test("an interrupted partial df fold is detected by its intent marker and healed by repairIndex AND by the next append") {
    val spark2 = spark
    import spark2.implicits._
    val d = tmp()
    Graft.bm25Index(docs).save(d)
    val expect = exact(Graft.loadBm25Index(spark, d).searchText(queries))
    val cleanDf = spark.read.parquet(s"$d/df")
      .select(col("tok"), col("df")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def corruptOneBucket(): Unit = {
      // a MIXED fold: one bucket's df rows double (as if the batch's
      // fold committed there and nowhere else), intent left behind
      val tb0 = spark.read.parquet(s"$d/df").select(col("tb"))
        .head().getAs[Int]("tb")
      spark.read.parquet(s"$d/df").filter(col("tb") === tb0)
        .select(col("tok"), col("df"))
        .write.mode("append").parquet(s"$d/df/tb=$tb0")
      fs.create(new org.apache.hadoop.fs.Path(s"$d/df.fold.intent"),
        true).close()
      // sanity: df really is corrupt now
      assert(spark.read.parquet(s"$d/df").count() > cleanDf.size)
    }
    corruptOneBucket()
    // heal path 1: repairIndex recomputes df from the postings
    val rep = Graft.repairIndex(spark, d)
      .collect().map(_.getString(0)).toSet
    assert(rep.contains("df_fold_interrupted"), s"report: $rep")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/df.fold.intent")))
    assert(spark.read.parquet(s"$d/df").select(col("tok"), col("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      == cleanDf, "repair must recompute df exactly")
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == expect)
    // heal path 2: the NEXT append sees the pending intent and
    // recomputes BEFORE folding its own batch — the result equals a
    // build that never crashed
    corruptOneBucket()
    val novel = Seq((900001L, "zzfoldhealtokenzz")).toDF("doc_id", "text")
    Graft.loadBm25Index(spark, d).appendDurable(d, novel)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/df.fold.intent")))
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == exact(Graft.bm25Index(docs.select(col("doc_id"), col("text"))
        .unionByName(novel)).searchText(queries)),
      "append-after-crash must fold onto a recomputed, consistent df")
  }

  test("rewriteBm25Layout migrates layouts in place: search identical through tombstones, appends follow the stored layout, idempotent") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val delIds = half1.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("vec_id"))

    // normalized store (explicit since the round-14 denorm default
    // flip) with live tombstones — the layout rewrite must be
    // invisible to search even with masked rows in play
    val d = tmp()
    Graft.bm25Index(half1).save(d, denormDl = false)
    Graft.deleteFromIndex(spark, d, delIds)
    val expect = exact(Graft.loadBm25Index(spark, d).searchText(queries))
    assert(expect.nonEmpty)
    assert(!spark.read.parquet(s"$d/postings").columns.contains("dl"))

    Graft.rewriteBm25Layout(spark, d, denormDl = true)
    assert(spark.read.parquet(s"$d/postings").columns.contains("dl"),
      "denormalized postings must carry dl")
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == expect, "search must be bit-identical across the rewrite")

    // idempotent: already-in-target-layout calls record nothing
    val nEpochs = Graft.indexEpochs(spark, d).count()
    Graft.rewriteBm25Layout(spark, d, denormDl = true)
    assert(Graft.indexEpochs(spark, d).count() == nEpochs,
      "a no-op rewrite must not add an epoch")

    // appends after the rewrite follow the STORED layout (denorm) —
    // the whole sequence equals the same sequence on a
    // denorm-from-birth store
    Graft.loadBm25Index(spark, d).appendDurable(d, half2)
    assert(spark.read.parquet(s"$d/postings")
      .filter(col("dl").isNull).count() == 0,
      "appended postings rows must carry dl too")
    val d2 = tmp()
    Graft.bm25Index(half1).save(d2, denormDl = true)
    Graft.deleteFromIndex(spark, d2, delIds)
    Graft.loadBm25Index(spark, d2).appendDurable(d2, half2)
    val expectAll = exact(Graft.loadBm25Index(spark, d2)
      .searchText(queries))
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == expectAll,
      "rewrite + append must equal the denorm-from-birth sequence")

    // and back: normalized again, same results, dl gone
    Graft.rewriteBm25Layout(spark, d, denormDl = false)
    assert(!spark.read.parquet(s"$d/postings").columns.contains("dl"))
    assert(exact(Graft.loadBm25Index(spark, d).searchText(queries))
      == expectAll, "the reverse rewrite must also preserve search")
    val ops = Graft.indexEpochs(spark, d).select(col("op"))
      .collect().map(_.getString(0)).toSeq
    assert(ops.count(_ == "rewrite") == 2,
      s"expected exactly two rewrite epochs, got $ops")
  }
}
