package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The facade contract: every `Graft` call, applied to RAW
  * `spark.read.parquet` frames (no [[graft.Tables]] loader, no
  * scale-factor plumbing), must equal the corresponding oracle-gated
  * query's output. Most gates route THROUGH the facade, so this is
  * mostly proven by construction — what these tests add is the
  * user-path check: that the documented input schemas are really all a
  * caller needs, and (for d15, where the gate sigs once and filters
  * while the facade sigs each raw side) that composition order doesn't
  * change results.
  */
class GraftApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-api-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  private def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
  private def gate(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  test("exactDedup on a raw parquet frame equals the d01 gate") {
    assert(rows(Graft.exactDedup(docs)) == rows(gate("d01_exact_dedup")))
    assert(rows(Graft.exactDedup(docs)).nonEmpty)
  }

  test("exactDedup honors renamed columns") {
    val renamed = docs.select(col("doc_id").as("id"), col("text").as("body"))
    assert(rows(Graft.exactDedup(renamed, textCol = "body", idCol = "id"))
      == rows(gate("d01_exact_dedup")))
  }

  test("normalizedDedup equals the d02 gate") {
    assert(rows(Graft.normalizedDedup(docs))
      == rows(gate("d02_normalized_dedup")))
  }

  test("minhashDedup equals the d04 gate") {
    assert(rows(Graft.minhashDedup(docs)) == rows(gate("d04_minhash_lsh")))
    assert(rows(Graft.minhashDedup(docs)).nonEmpty)
  }

  test("decontaminate on two raw frames equals the d15 gate") {
    // the gate computes signatures once over the union and filters;
    // the facade signature-computes each raw side independently —
    // per-row sigs are identical either way, and this proves it
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    assert(rows(Graft.decontaminate(train, bench))
      == rows(gate("d15_cross_decontamination")))
  }

  test("simhashNearDups equals the d05 gate") {
    assert(rows(Graft.simhashNearDups(docs)) == rows(gate("d05_simhash")))
  }

  test("nearDupClusters equals the d06 gate") {
    assert(rows(Graft.nearDupClusters(docs))
      == rows(gate("d06_dedup_clusters")))
  }

  test("tokenStats / heuristicQuality / languageId / c4Filter equal their gates") {
    assert(rows(Graft.tokenStats(docs)) == rows(gate("t01_token_stats")))
    assert(rows(Graft.heuristicQuality(docs))
      == rows(gate("t02_quality_score")))
    assert(rows(Graft.languageId(docs)) == rows(gate("t03_langid")))
    assert(rows(Graft.c4Filter(docs)) == rows(gate("t15_c4_filter")))
  }

  test("assignSplits aggregates to the t16 gate's contingency table") {
    val agg = Graft.assignSplits(docs)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
    assert(rows(agg) == rows(gate("t16_stratified_split")))
    // per-doc: every doc gets exactly one split, all three present
    val splits = Graft.assignSplits(docs).groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits.values.sum == docs.count())
  }

  test("substringDedup equals the d12 gate") {
    assert(rows(Graft.substringDedup(docs))
      == rows(gate("d12_substring_dedup")))
  }

  test("packSequences equals the t11 gate") {
    assert(rows(Graft.packSequences(docs))
      == rows(gate("t11_sequence_packing")))
  }

  test("chunkDocuments equals the t26 gate; chunks tile every token with the overlap") {
    assert(rows(Graft.chunkDocuments(docs)) == rows(gate("t26_doc_chunks")))
    // coverage property: per doc, sum of (stride-advanced) starts
    // covers [1, n] — the last chunk ends at or past the token count,
    // and consecutive starts differ by exactly chunkSize - overlap
    val byDoc = Graft.chunkDocuments(docs, chunkSize = 64, overlap = 16)
      .groupBy(col("doc_id"))
      .agg(max(col("start_tok") + col("n_chunk_tokens") - 1).as("covered"),
        count(lit(1)).as("k"), max(col("start_tok")).as("last_start"))
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n")), "doc_id")
      .collect()
    assert(byDoc.nonEmpty)
    byDoc.foreach { r =>
      val (covered, k, lastStart, n) = (r.getAs[Long]("covered"),
        r.getAs[Long]("k"), r.getAs[Long]("last_start"), r.getAs[Long]("n"))
      assert(covered == n, s"doc ${r.get(0)}: covered $covered != n $n")
      assert(lastStart == 1 + (k - 1) * 48, "starts must stride by 48")
    }
  }

  test("segmentHashes + bloomSketch + bloomScreen reproduce the d13 gate's hit counts") {
    // the gate's split: 80% corpus, 20% arriving batch
    val corpus = docs.filter(col("doc_id") % 5 < 4)
    val batch = docs.filter(col("doc_id") % 5 === 4)
    val sketch = Graft.bloomSketch(
      Graft.segmentHashes(corpus).select(col("h")).distinct())
    val hits = Graft.bloomScreen(batch, sketch)
      .groupBy(col("doc_id"))
      .agg(sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
    val g = gate("d13_bloom_incremental")
      .select(col("doc_id"), col("n_bloom_hits"))
    assert(rows(hits) == rows(g) && rows(hits).nonEmpty)
  }

  test("facade edge cases: empty inputs, binding parameters, degenerate shapes") {
    val spark2 = spark
    import spark2.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // empty corpora produce empty results, never crashes
    assert(Graft.exactDedup(empty).count() == 0)
    assert(Graft.minhashDedup(empty).count() == 0)
    assert(Graft.chunkDocuments(empty).count() == 0)
    // decontaminate against an EMPTY benchmark flags nothing
    assert(Graft.decontaminate(docs, empty).count() == 0)
    // chunking with zero overlap tiles exactly: per-doc token sums match
    val tiled = Graft.chunkDocuments(docs, chunkSize = 8, overlap = 0)
      .groupBy(col("doc_id")).agg(sum(col("n_chunk_tokens")).as("covered"))
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n")), "doc_id")
      .filter(col("covered") =!= col("n")).count()
    assert(tiled == 0, "overlap=0 chunking must tile without loss or overlap")
    // invalid chunk geometry fails loudly at plan-build time
    intercept[IllegalArgumentException] {
      Graft.chunkDocuments(docs, chunkSize = 8, overlap = 8)
    }
    // thresholds bind monotonically
    val loose = Graft.minhashDedup(docs, threshold = 0.8).count()
    val tight = Graft.minhashDedup(docs, threshold = 0.95).count()
    assert(tight <= loose)
    // k binds: exactly one row per query at k=1
    val k1 = Graft.knn(emb, emb.filter(col("vec_id") < 5), k = 1)
    assert(k1.count() == 5 &&
      k1.select(col("query_id")).distinct().count() == 5)
    // the audio bucket cap suppresses every multi-member bucket at cap=1
    val media = docs.limit(10).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, graft.operators.MultimodalQueries.syntheticWav(id))))
    val fps = Graft.audioFingerprint(media).localCheckpoint()
    val capped = Graft.audioNearDups(fps, bucketCap = Some(1L)).count()
    assert(capped == 0, "cap=1 must suppress every candidate bucket")
  }

  test("semanticDecontaminate equals the d17 gate; threshold binds") {
    val train = emb.filter(col("vec_id") % 10 =!= 0)
    val bench = emb.filter(col("vec_id") % 10 === 0)
    assert(rows(Graft.semanticDecontaminate(train, bench))
      == rows(gate("d17_semantic_decontamination")))
    val loose = Graft.semanticDecontaminate(train, bench, 0.35).count()
    val tight = Graft.semanticDecontaminate(train, bench, 0.5).count()
    assert(tight <= loose && loose > 0)
  }

  test("qualityClassify equals the t21 gate") {
    assert(rows(Graft.qualityClassify(docs))
      == rows(gate("t21_quality_classifier")))
  }

  test("qualityBins equals the t23 gate") {
    assert(rows(Graft.qualityBins(docs)) == rows(gate("t23_quality_bins")))
  }

  test("distinctTokenSketch matches the t24 gate's sketch columns") {
    val facade = Graft.distinctTokenSketch(docs)
      .select(col("source"), col("kth_min"), col("kmv_estimate"))
    val g = gate("t24_distinct_kmv")
      .select(col("source"), col("kth_min"), col("kmv_estimate"))
    assert(rows(facade) == rows(g) && rows(facade).nonEmpty)
  }

  test("knn equals the e01 gate") {
    assert(rows(Graft.knn(emb, emb.filter(col("vec_id") < 5)))
      == rows(gate("e01_knn_bruteforce")))
  }

  test("mmrRerank equals the e23 gate and behaves like MMR") {
    val q = emb.filter(col("vec_id") < 5)
    val mmr = Graft.mmrRerank(emb, q)
    assert(rows(mmr) == rows(gate("e23_mmr_rerank")))
    val byQ = mmr.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5)
    byQ.foreach { case (_, rs) =>
      // k picks, all distinct candidates
      assert(rs.length == 5)
      assert(rs.map(_.getAs[Long]("cand_id")).distinct.length == 5)
    }
    // pick 1 is pure relevance: must equal e01's top-1
    val top1 = gate("e01_knn_bruteforce").filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pick1 = mmr.filter(col("pick") === 1)
      .select(col("query_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pick1 == top1)
  }

  test("annIndex().search() equals the e05 gate") {
    val hits = Graft.annIndex(emb).search(emb.filter(col("vec_id") < 5))
    assert(rows(hits) == rows(gate("e05_ann_ivf")) && rows(hits).nonEmpty)
  }

  test("searchWhere equals the e24 gate; the predicate really binds") {
    val keep = docs
      .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .select(col("doc_id").as("vec_id"))
    val hits = Graft.annIndex(emb)
      .searchWhere(emb.filter(col("vec_id") < 5), keep)
    assert(rows(hits) == rows(gate("e24_filtered_ivf")) && rows(hits).nonEmpty)
    // every returned neighbor satisfies the predicate
    val keepSet = keep.collect().map(_.getLong(0)).toSet
    val neighbors = hits.select(col("neighbor_id")).collect()
      .map(_.getLong(0))
    assert(neighbors.forall(keepSet))
    // and the filter is not a no-op: unfiltered search differs
    val unfiltered = gate("e05_ann_ivf").select(col("query_id"),
      col("neighbor_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = hits.select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered != unfiltered,
      "filtered search must change results on this corpus")
  }

  test("pqIndex().search() on a raw parquet frame equals the e09 gate") {
    val idx = Graft.pqIndex(emb)
    val hits = idx.search(emb.filter(col("vec_id") < 5), k = 3)
    assert(rows(hits) == rows(gate("e09_ann_pq")) && rows(hits).nonEmpty)
    // the stored representation is really 4 small codes per vector
    assert(idx.codes.columns.toSeq ==
      Seq("vec_id", "code_0", "code_1", "code_2", "code_3"))
    // k binds: exactly one row per query at k=1
    val k1 = idx.search(emb.filter(col("vec_id") < 5), k = 1)
    assert(k1.count() == 5)
  }

  test("pqIndex().rerank() equals the e16 gate and beats raw ADC recall") {
    val idx = Graft.pqIndex(emb)
    val rr = idx.rerank(emb.filter(col("vec_id") < 5), fetch = 10, k = 3)
    assert(rows(rr) == rows(gate("e16_ann_pq_rerank")) && rows(rr).nonEmpty)
    // the re-rank's exact-cosine top-3 can only match the global exact
    // top-3 at least as often as raw ADC does (the e17 >= e12 claim,
    // here proven on the facade handle itself)
    val exact3 = gate("e01_knn_bruteforce").filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc3 = idx.search(emb.filter(col("vec_id") < 5), k = 3)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr3 = rr.select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((rr3 & exact3).size >= (adc3 & exact3).size)
  }

  test("ivfPqIndex().search() equals the e18 gate; probes bind") {
    val idx = Graft.ivfPqIndex(emb)
    val hits = idx.search(emb.filter(col("vec_id") < 5))
    assert(rows(hits) == rows(gate("e18_ann_ivfpq")) && rows(hits).nonEmpty)
    // the stored representation: cell + codes + reconstruction norms
    assert(idx.codes.columns.toSeq == Seq("vec_id", "cell",
      "code_0", "code_1", "code_2", "code_3",
      "recon2_0", "recon2_1", "recon2_2", "recon2_3"))
    // probing every cell can only widen the candidate pool: each
    // query's best approx_cos is >= its 2-probe best
    val nCells = idx.centroids.count().toInt
    val all = idx.search(emb.filter(col("vec_id") < 5), probes = nCells)
      .filter(col("rnk") === 1)
      .select(col("query_id"), col("approx_cos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val two = hits.filter(col("rnk") === 1)
      .select(col("query_id"), col("approx_cos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(two.forall { case (q, c) => all(q) >= c })
  }

  test("audioFingerprint + audioNearDups equals the mm08 gate") {
    val spark2 = spark
    import spark2.implicits._
    val media = docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, graft.operators.MultimodalQueries.syntheticWav(id))))
    val fps = Graft.audioFingerprint(media).localCheckpoint()
    val pairs = Graft.audioNearDups(fps)
      .select(col("ma"), col("mb"), col("hamming"))
    assert(rows(pairs) == rows(gate("mm08_audio_fp_neardup")) &&
      rows(pairs).nonEmpty)
  }

  test("imagePHash + imageNearDups equals the mm07 gate") {
    val spark2 = spark
    import spark2.implicits._
    // a "user" media frame: opaque payload column built from the same
    // generator the gate's synthetic corpus uses
    val media = docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, graft.operators.MultimodalQueries.syntheticPng(id))))
    val hashed = Graft.imagePHash(media).localCheckpoint()
    val pairs = Graft.imageNearDups(hashed)
      .select(col("ma"), col("mb"), col("hamming"))
    assert(rows(pairs) == rows(gate("mm07_phash_neardup")) &&
      rows(pairs).nonEmpty)
  }

  test("annIndex.append equals the e26 gate; empty append is a no-op") {
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
    val queries = emb.filter(col("vec_id") < 5)
    val got = Graft.annIndex(base).append(arrivals).search(queries)
    assert(rows(got) == rows(gate("e26_ivf_append")) && rows(got).nonEmpty)
    // appending zero vectors changes nothing
    val idx = Graft.annIndex(emb)
    assert(rows(idx.append(emb.limit(0)).search(queries))
      == rows(idx.search(queries)))
  }

  test("annIndex.drift equals the e28 gate; self-drift is zero") {
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
    val got = Graft.annIndex(base).drift(arrivals).orderBy(col("cell"))
    assert(rows(got) == rows(gate("e28_index_drift")) && rows(got).nonEmpty)
    // a sample that IS the indexed corpus reports zero drift in every
    // cell (same assignment, same shares)
    val self = Graft.annIndex(emb).drift(emb)
    assert(self.filter(col("drift_ppm") =!= 0L).count() == 0 &&
      self.count() > 0)
  }

  test("pqIndex.append equals the e27 gate; empty append is a no-op") {
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    val queries = emb.filter(col("vec_id") < 5)
    val got = Graft.pqIndex(base).append(arrivals).search(queries)
    assert(rows(got) == rows(gate("e27_pq_append")) && rows(got).nonEmpty)
    // appending zero vectors changes nothing (search AND rerank paths)
    val idx = Graft.pqIndex(emb)
    val idx0 = idx.append(emb.limit(0))
    assert(rows(idx0.search(queries)) == rows(idx.search(queries)))
    assert(rows(idx0.rerank(queries)) == rows(idx.rerank(queries)))
  }

  test("ivfPqIndex.append equals the e29 gate; empty append is a no-op") {
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    val queries = emb.filter(col("vec_id") < 5)
    val got = Graft.ivfPqIndex(base).append(arrivals).search(queries)
    assert(rows(got) == rows(gate("e29_ivfpq_append")) && rows(got).nonEmpty)
    val idx = Graft.ivfPqIndex(emb)
    assert(rows(idx.append(emb.limit(0)).search(queries))
      == rows(idx.search(queries)))
  }

  test("pqIndex.drift equals the e31 gate; self-drift is zero") {
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    val got = Graft.pqIndex(base).drift(arrivals)
      .orderBy(col("m"), col("code"))
    assert(rows(got) == rows(gate("e31_pq_code_drift")) && rows(got).nonEmpty)
    // a sample that IS the indexed corpus occupies every (subspace,
    // code) in the same shares — zero drift in every row
    val self = Graft.pqIndex(emb).drift(emb)
    assert(self.filter(col("drift_ppm") =!= 0L).count() == 0 &&
      self.count() > 0)
  }

  test("ivfPqIndex.drift equals the e32 gate; self-drift is zero") {
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    val got = Graft.ivfPqIndex(base).drift(arrivals).orderBy(col("cell"))
    assert(rows(got) == rows(gate("e32_ivfpq_drift")) && rows(got).nonEmpty)
    val self = Graft.ivfPqIndex(emb).drift(emb)
    assert(self.filter(col("drift_ppm") =!= 0L).count() == 0 &&
      self.count() > 0)
  }

  test("ivfPqIndex.residualDrift equals the e34 gate; self-drift is zero") {
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    val got = Graft.ivfPqIndex(base).residualDrift(arrivals)
      .orderBy(col("m"), col("code"))
    assert(rows(got) == rows(gate("e34_ivfpq_residual_drift")) &&
      rows(got).nonEmpty)
    val self = Graft.ivfPqIndex(emb).residualDrift(emb)
    assert(self.filter(col("drift_ppm") =!= 0L).count() == 0 &&
      self.count() > 0)
  }

  test("videoFrameHashes + videoNearDups equals the mm09 gate") {
    val spark2 = spark
    import spark2.implicits._
    val media = docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, graft.operators.MultimodalQueries.syntheticGif(id))))
    val frames = Graft.videoFrameHashes(media).localCheckpoint()
    val pairs = Graft.videoNearDups(frames)
    assert(rows(pairs) == rows(gate("mm09_video_neardup")) &&
      rows(pairs).nonEmpty)
  }

  test("videoNearDups requires EVERY aligned frame position to match") {
    val spark2 = spark
    import spark2.implicits._
    // three 2-frame videos: 1 and 2 match at both aligned positions
    // (Hamming 0 and 1); 3 matches 1 and 2 exactly at position 0 — a
    // guaranteed band candidate — but sits at Hamming 5 at position 1,
    // so the aligned verify must reject it
    val far = 6L | (31L << 20)
    val frames = Seq(
      (1L, 0L, 2L, 5L, 9L), (1L, 1L, 2L, 6L, 2L),
      (2L, 0L, 2L, 5L, 9L), (2L, 1L, 2L, 7L, 2L),
      (3L, 0L, 2L, 5L, 9L), (3L, 1L, 2L, far, 2L)
    ).toDF("media_id", "frame_no", "n_frames", "lo", "hi")
    val got = Graft.videoNearDups(frames).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == Set((1L, 2L, 2L, 1L)),
      s"aligned-verify semantics drifted: ${got.mkString(",")}")
  }

  test("nearDupCount = count(pairs) for image/audio/video; cap binds identically") {
    val spark2 = spark
    import spark2.implicits._
    // fingerprints with genuine duplicates (identical every lcm(4,5)=20
    // ids) — image and audio share the (media_id, lo, hi) layout
    val fps = (0L until 40L).map(i => (i, (i % 4) * 3L, (i % 5) * 7L))
      .toDF("media_id", "lo", "hi")
    def one(df: DataFrame): Long = df.head().getLong(0)
    val nImg = Graft.imageNearDups(fps).count()
    assert(nImg > 0 && one(Graft.imageNearDupCount(fps)) == nImg)
    assert(one(Graft.audioNearDupCount(fps)) ==
      Graft.audioNearDups(fps).count())
    assert(one(Graft.audioNearDupCount(fps, bucketCap = Some(3L))) ==
      Graft.audioNearDups(fps, bucketCap = Some(3L)).count())
    val frames = Seq(
      (1L, 0L, 2L, 5L, 9L), (1L, 1L, 2L, 6L, 2L),
      (2L, 0L, 2L, 5L, 9L), (2L, 1L, 2L, 7L, 2L),
      (3L, 0L, 2L, 5L, 9L), (3L, 1L, 2L, 6L, 3L)
    ).toDF("media_id", "frame_no", "n_frames", "lo", "hi")
    val nVid = Graft.videoNearDups(frames).count()
    assert(nVid > 0 && one(Graft.videoNearDupCount(frames)) == nVid)
  }

  test("recall sweep: recall@3 is monotone non-decreasing in probes, per query") {
    val sweep = gate("e37_recall_sweep").collect()
      .map(r => (r.getAs[Int]("probes"), r.getLong(1), r.getLong(2)))
    assert(sweep.nonEmpty)
    val byQuery = sweep.groupBy(_._2).values
    byQuery.foreach { qRows =>
      val ordered = qRows.sortBy(_._1).map(_._3)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b },
        s"recall regressed as probes grew: ${qRows.toSeq.sortBy(_._1)}")
    }
    // probing EVERY cell must reach the index's ceiling: the widest
    // sweep point equals e05-at-2-probes or better on every query
    val at2 = sweep.filter(_._1 == 2).map(t => t._2 -> t._3).toMap
    sweep.filter(_._1 == 3).foreach { case (_, q, n) =>
      assert(n >= at2(q))
    }
  }

  test("filtered PQ / IVF-PQ search returns only keep-set candidates") {
    val keep = emb.filter(col("label") === 0).select(col("vec_id"))
    val keepIds = keep.collect().map(_.getLong(0)).toSet
    val q = emb.filter(col("vec_id") < 5)
    val pqHits = Graft.pqIndex(emb).searchWhere(q, keep)
      .select(col("vec_id")).collect().map(_.getLong(0))
    assert(pqHits.nonEmpty && pqHits.forall(keepIds))
    val cHits = Graft.ivfPqIndex(emb).searchWhere(q, keep)
      .select(col("vec_id")).collect().map(_.getLong(0))
    assert(cHits.nonEmpty && cHits.forall(keepIds))
    // an empty keep set yields zero rows, never an error
    assert(Graft.pqIndex(emb)
      .searchWhere(q, emb.filter(lit(false)).select(col("vec_id")))
      .count() == 0)
  }

  test("sampleMixture is seed-stable, rate-faithful, and salt-independent") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25,
      "src3" -> 0.1)
    val a = Graft.sampleMixture(docs, rates)
    // facade equals the gate row set
    assert(rows(a.select(col("doc_id"), col("source")))
      == rows(gate("t27_mixture_sample")))
    // seed-stable: the same salt re-draws the identical sample
    assert(rows(Graft.sampleMixture(docs, rates)) == rows(a))
    // rate-faithful: rate 1.0 keeps every src0 doc; absent sources drop
    val bySrc = a.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == totals("src0"))
    assert(bySrc.keySet.subsetOf(rates.keySet))
    // a different salt draws a different (but same-law) sample
    val b = Graft.sampleMixture(docs, rates, salt = 7L)
    assert(rows(b) != rows(a))
    assert(b.filter(col("source") === "src0").count() == totals("src0"))
  }

  test("retrainIf: below threshold is a byte-identical no-op; forced retrain equals a fresh build on the relabeled union") {
    val snapshot = emb.filter(col("vec_id") % 7 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 7 === 0)
    val q = emb.filter(col("vec_id") < 5)

    // IVF: a sample drawn FROM the indexed distribution can't drift
    // past a generous threshold -> the very same handle comes back
    val ivf = Graft.annIndex(snapshot)
    assert(ivf.retrainIf(snapshot.limit(50), Long.MaxValue) eq ivf)
    // forced retrain (negative threshold) == fresh annIndex on the
    // union re-labeled by its serving cells under the OLD centroids
    val relabeled = snapshot
      .select(col("vec_id"), col("embedding"), col("label"))
      .join(ivf.assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cell").as("label"))
      .unionByName(graft.operators.SimilarityQueries
        .assignCells(arrivals, ivf.centroids)
        .withColumnRenamed("cell", "label"))
    val expected = Graft.annIndex(relabeled)
    val retrained = ivf.retrainIf(arrivals, maxDriftPpm = -1L)
    def exact(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    assert(exact(retrained.centroids.orderBy("cell"))
      == exact(expected.centroids.orderBy("cell")))
    assert(exact(retrained.search(q)) == exact(expected.search(q)))

    // PQ: no-op identity below threshold; forced retrain == pqIndex
    // over stored ∪ arrivals (the handle carries its own raw corpus)
    val pq = Graft.pqIndex(snapshot)
    assert(pq.retrainIf(snapshot.limit(50), Long.MaxValue) eq pq)
    val pqExpected = Graft.pqIndex(
      snapshot.select(col("vec_id"), col("embedding"))
        .unionByName(arrivals.select(col("vec_id"), col("embedding"))))
    assert(exact(pq.retrainIf(arrivals, -1L).search(q))
      == exact(pqExpected.search(q)))

    // IVF-PQ: residual-axis trigger; raw corpus caller-supplied
    val c = Graft.ivfPqIndex(snapshot)
    assert(c.retrainIf(snapshot, snapshot.limit(50), Long.MaxValue) eq c)
    val cExpected = Graft.ivfPqIndex(graft.operators.SimilarityQueries
      .assignCells(
        snapshot.select(col("vec_id"), col("embedding"))
          .unionByName(arrivals.select(col("vec_id"), col("embedding"))),
        c.centroids)
      .withColumnRenamed("cell", "label"))
    assert(exact(c.retrainIf(snapshot, arrivals, -1L).search(q))
      == exact(cExpected.search(q)))
  }

  test("rerank sweep: recall@3 is monotone non-decreasing in fetch, per query") {
    val sweep = gate("e38_rerank_sweep").collect()
      .map(r => (r.getAs[Int]("fetch"), r.getLong(1), r.getLong(2)))
    assert(sweep.nonEmpty)
    sweep.groupBy(_._2).values.foreach { qRows =>
      val ordered = qRows.sortBy(_._1).map(_._3)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b },
        s"recall regressed as fetch grew: ${qRows.toSeq.sortBy(_._1)}")
    }
  }

  test("an IVF / IVF-PQ index over an empty corpus fails by name: no centroids") {
    val empty = emb.limit(0)
    Seq[() => Any](() => Graft.annIndex(empty),
        () => Graft.ivfPqIndex(empty)).foreach { build =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("index has no centroids"), e.getMessage)
    }
  }

  test("PQ / IVF-PQ training without a vec_id % 125 == 0 seed vector fails naming the seeding rule") {
    // every multiple of 125 is a multiple of 5: this corpus has no seed
    val unseeded = emb.filter(col("vec_id") % 5 =!= 0)
    Seq[() => Any](() => Graft.pqIndex(unseeded),
        () => Graft.ivfPqIndex(unseeded)).foreach { build =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("multiple of 125"), e.getMessage)
    }
  }
}
