package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.prov.{ProvSession, RelationalProvenance}
import graft.prov.RelationalProvenance.Granularity

/** Scale-linearity harness: replicates the sf0.1 `documents` /
  * `embeddings` tables 10× with replica-disjoint ids and token
  * namespaces, then times the scale-path operators (d04 MinHash-LSH,
  * d05 SimHash, e03 LSH ANN, e05 IVF ANN, d10 segment dedup, t11
  * sequence packing, t13 TF-IDF, e08 int8 quantization, e07 capped
  * SemDeDup, e09 PQ ANN, t17 unigram perplexity, t18 per-source KL,
  * d11 intra-doc dedup, t19 CMS heavy hitters) at 1× and
  * 10×, printing one JSON line with per-query x1/x10/ratio. The
  * `r{i}_` token prefix below is load-bearing for d10/t13 too: it
  * keeps 10-token segments and terms replica-disjoint, so the keeper
  * join and the document-frequency table grow linearly, not by
  * cross-replica collapse. The
  * quadratic exact baselines (d03 n-gram Jaccard, e02 all-pairs
  * cosine) are EXCLUDED BY DESIGN — they exist as gated correctness
  * baselines, never as a pipeline's scale path (their scaladoc says
  * so); this harness measures the operators a 100 TB pipeline would
  * actually run.
  *
  * Replication design: for replica i>0 every document token gets an
  * `r{i}_` prefix, which keeps each replica's shingle/minhash/simhash
  * space disjoint from every other's — so 10× rows is honestly 10×
  * work (no artificial cross-replica near-duplicates inflating
  * candidate counts superlinearly, no shared shingles deflating them).
  * Embedding replicas keep their vectors with offset ids: LSH/IVF
  * bucket populations grow 10× while the fixed probe side (vec_id < 5,
  * untouched by the offset) scores 10× candidates — the linear regime.
  *
  * The `prov_*` cells price provenance capture at scale: the typed
  * range → map to `k;v` lines → parse → filter → reduceByKey pipeline
  * (`prov_rdd`) and
  * the relational select → filter → groupByAgg frame at Element
  * (`prov_frame`) and Task (`prov_frame_task`) granularity, over
  * 200k `k{i % 1000};i` rows at x1 and 200k × N at xN. They read no
  * replica table; each reports capture-on seconds in the usual keys
  * plus the uncaptured pipeline (`off_*`) and their quotient
  * (`factor_*`).
  */
object ScaleBench {

  val provCells: Seq[String] =
    Seq("prov_rdd", "prov_frame", "prov_frame_task")

  private val provRows = 200000

  val scaleQueries: Seq[String] =
    Seq("d04_minhash_lsh", "d05_simhash", "e03_ann_lsh", "e05_ann_ivf",
      "d10_segment_dedup", "t11_sequence_packing", "t13_tfidf_top_terms",
      "e08_int8_quant", "e07_semantic_dedup", "e09_ann_pq",
      "t17_unigram_perplexity", "t18_domain_divergence",
      "d11_intradoc_dedup", "t19_heavy_hitters_cms",
      // d12's replica-disjoint gram spaces (the r{i}_ prefix) keep the
      // flagged set per-replica: 10x rows = 10x grams AND 10x flagged
      "d12_substring_dedup",
      // d13's bloom filter is sized to the corpus for the replica runs
      // (spark.graft.bloomBits, set below) — production sizes m to the
      // corpus, and a fixed test-size m saturating on 100x replicas
      // would measure degradation no deployment ever runs
      "d13_bloom_incremental",
      // d14: sources are preserved across replicas while the r{i}_
      // prefix keeps replica shingles disjoint — per-source sets grow
      // N×, the pair count stays (#sources choose 2)
      "d14_source_overlap",
      // d15: spark.graft.benchMaxDocId (set below) pins the benchmark
      // side to the replica-0 id range, so N× corpus means N× training
      // docs screened against a FIXED eval set — the decontamination
      // deployment shape (without the cap the benchmark itself would
      // grow N×, which no release pipeline ever runs)
      "d15_cross_decontamination",
      // t20: the 1024-bucket models stay fixed-size; only the token
      // stream they broadcast onto grows
      "t20_dsir_weights",
      // q56: event-time as-of join — replicas offset user_id, so N×
      // rows is N× users with per-user group size constant: the
      // union-tag + carry-forward window sorts N× groups of fixed
      // size, the linear regime a 100 TB attribution join lives in
      "q56_asof_attribution",
      // q58: salted skew aggregation — event_type stays 5-valued while
      // rows grow N×, the shape where an unsalted groupBy collapses to
      // 5 reducers; the 64-way salt must keep the ratio linear
      "q58_salted_agg",
      // q66: ordered funnel — chained window minima over one user_id
      // exchange; N× users of constant size must scale by the single
      // window pass
      "q66_event_funnel",
      // q57: bucketed interval join — pairs meet once per tolerance
      // bucket; replica-disjoint users keep per-user event density
      // constant, so candidate volume grows with users, not users²
      "q57_range_error_proximity",
      // e20: binary packing is a 64-row threshold agg + one
      // map-side-combinable per-vector agg — pure linear passes
      "e20_binary_quant",
      // t22: the bigram/unigram model tables are vocabulary-sized (the
      // r{i}_ prefix grows the vocab linearly with replicas, the honest
      // worst case); the scoring join is one pass over the pair stream
      "t22_bigram_perplexity",
      // mm07: replica ids synthesize N× DISTINCT images (the hash
      // depends on doc_id), so decode work grows N× and the banded
      // join's bucket populations grow N× under the fixed 13/12-bit
      // chunks (5 bands, complete for Hamming ≤ 4) — the regime where
      // per-bucket pair counts, not pixels, set cost
      "mm07_phash_neardup",
      // the production lever for that regime: skip band buckets above
      // 500 members (hyper-duplicated classes are d01 exact-dedup's
      // job, not the pairwise verifier's), bounding emitted pairs at
      // cap²/2 per bucket no matter how duplicated the corpus gets
      "mm07_phash_neardup@cap500",
      // e22: hybrid BM25+dense retrieval — postings grow N×, the 5-doc
      // query side stays broadcast (plan-spec'd), so cost is the
      // token-keyed postings pass + e01's dense scan
      "e22_hybrid_rrf",
      // e23: MMR — two corpus scans + a fetch×Q greedy tail whose cost
      // is CONSTANT in corpus size; the linear regime diversified
      // re-rank lives in
      "e23_mmr_rerank",
      // t26: RAG chunking — a pure per-row explode, the zero-shuffle
      // baseline every linear pass should match
      "t26_doc_chunks",
      // d17: semantic decontamination — the fixed-benchmark shape (see
      // d15): replicas grow only the screened corpus, the broadcast
      // benchmark matrix stays base-sized, cost is one linear scan
      "d17_semantic_decontamination",
      // e24: filtered ANN — the keep-set semi-join (25% of N× docs)
      // restricts in-cell candidates BEFORE ranking; expected to track
      // e05's cells minus the filtered-out candidates
      "e24_filtered_ivf",
      // e25: filtered recall — e24 composed with the exact post-filter
      // ground truth; the exact side is 5 fixed queries × a linear
      // corpus scan, the evaluation-harness regime
      "e25_ann_recall_filtered",
      // mm08: replica ids synthesize N× distinct clips (waveform phase
      // depends on media_id), so decode grows N×; the generator's
      // 2001-phase waveform space saturates at replica scale (mm07's
      // situation one notch earlier), making the TRUE pair set — and so
      // the uncapped cell — output-bound, not plan-bound
      "mm08_audio_fp_neardup",
      // the production lever for that regime, measured beside it
      "mm08_audio_fp_neardup@cap500",
      // mm09: replica ids synthesize N× distinct videos (frame hashes
      // depend on doc_id), so multi-frame GIF decode grows N×; the
      // generator's (w, h, k) space is only 300 classes and the bit
      // pattern shifts by id mod 256 within a class, so the TRUE
      // aligned-pair set grows quadratically at replica scale — the
      // mm07/mm08 output-bound regime with a per-frame decode in front
      "mm09_video_neardup",
      // the shared phashBucketCap lever, measured beside it: capped
      // (position, band, chunk) buckets bound candidates no matter how
      // duplicated the corpus gets
      "mm09_video_neardup@cap500",
      // e26-e29: the index lifecycle ops — append is one broadcast
      // assignment/encode pass over the arrivals (the stored corpus is
      // never rescanned), drift is two map-side-combinable counts; all
      // four should track e05/e09/e18's linear curves
      "e26_ivf_append",
      "e27_pq_append",
      "e28_index_drift",
      "e29_ivfpq_append",
      // e31/e32: the drift reports for the PQ and IVF-PQ families -
      // like e28, two map-side-combinable counts against a frozen
      // training side; expected to track e27/e29's encode curves
      "e31_pq_code_drift",
      "e32_ivfpq_drift",
      // e33: the durable-append seam - e27's encode plus one
      // partitioned write of the arrivals and a store re-open
      "e33_durable_append",
      // e36: the parallel-build seam - one save of the snapshot + two
      // shard encodes/writes of the arrival halves (all linear), then
      // two merges that move files by RENAME (metadata-speed: the
      // reduce step's cost must NOT grow with corpus size - the cell
      // should track e33's write-bound curve, the merges adding ~0)
      "e36_shard_merge",
      // e35: prices the MAINTENANCE loop - save + durable append +
      // COMPACT (a full rewrite of the big table through a temp-dir
      // swap) + the footer-metadata epoch reads; the compact is the
      // dominant term and is itself one partitioned write, so the
      // cell should run ~2x e36's write-bound curve
      "e35_index_epochs",
      // d18: df-capped near-dup clustering - the capped pair graph +
      // connected components; replica-disjoint shingles keep the pair
      // graph and the component count linear in replicas, so the cell
      // prices the capped inverted-index join + O(log n) CC rounds
      // (the exact d06 path stays excluded by design with d03/e02)
      "d18_clusters_capped",
      // t27: mixture sampling - the zero-shuffle linear baseline for
      // the mixing step (broadcast rate table + one filter pass)
      "t27_mixture_sample",
      // mm10: the durable media-dedup index - decode + hash the
      // stored 2/3 (decode-bound, linear - the mm07 curve) + one
      // 16-byte/row save + the broadcast-batch banded screen
      "mm10_phash_index_screen",
      // d19: the durable dedup index priced end-to-end - sign + save
      // the stored 2/3 of the replica corpus (the build, write-bound
      // and linear), then screen the arriving 1/3 against it;
      // replica-disjoint shingles keep bucket populations linear, so
      // N x rows is honestly N x signing + N x bucket probes (the
      // e30 shape for the dedup family)
      "d19_lsh_index_screen",
      // e48: the durable lexical index priced end-to-end - build +
      // save postings/doclen/df over the replica corpus (write-bound,
      // linear: posting rows = corpus tokens), then one broadcast
      // token join ranks the 5 fixed queries; replica-disjoint token
      // spaces (the r{i}_ prefix) grow the vocab linearly - the
      // honest worst case for the df fold
      "e48_bm25_store",
      // e45: the REMOVE path priced end-to-end - save the full index,
      // tombstone ~1/11 of the ids (one small parquet append), search
      // through a loaded handle whose broadcast anti-join masks them;
      // expected to track e30's write-bound save curve (the delete
      // itself is corpus-size-independent)
      "e45_index_delete",
      // e47: the retrain closure - drift report (two map-side counts)
      // + a forced retrain (one mean-agg over the union + one
      // broadcast re-assign pass) + the e05 search; must track the
      // original build's linear curve, since a retrain IS a rebuild
      "e47_ivf_retrain",
      // e43: two-stage composite serve - the full e18 train + probe +
      // ADC pass to a depth-10 shortlist, then an exact rescore of
      // O(queries x 10) rows fetched by broadcast semi-join against
      // the source table; the rerank tail is CONSTANT in corpus size,
      // so the cell should track the composite build/search curve
      "e43_ivfpq_rerank",
      // e49: e48 with the NORMALIZED (non-default since the round-14
      // denormDl flip) layout - the build drops the save-time dl
      // join; the search adds the doclen join; expected to track
      // e48's write-bound curve (the serving-side I/O delta is
      // ScreenBench's subject, not this end-to-end cell)
      "e49_bm25_normalized_search",
      // e50: the blue/green composite - e47's build + retrain + search
      // plus two publishes; the publish overhead is ONE rename + ONE
      // marker create per generation, so the cell must track e47's
      // curve with a constant metadata tail (the 100 TB property of
      // the pointer flip)
      "e50_published_retrain_search",
      // e52: the layout migration - e48's build + ONE postings
      // rewrite (read + dl join + tb-partitioned rewrite + swap) +
      // the search; the rewrite is one extra write-bound pass over
      // the postings, so the cell should sit between e48 and ~2x
      // its curve (the one-time migration cost on record)
      "e52_bm25_rewrite_search") ++ provCells

  /** Offset between replica id ranges — far above any real id in the
    * test tables, so replica ids never collide.
    */
  private val idStride = 10000000L

  val allScaleTables: Set[String] = Set("documents", "embeddings", "events")

  /** Replicate only `tables` — a subset re-timing run (4th CLI arg)
    * needs only the tables its queries read, which cuts an x100 cell's
    * setup from minutes of unrelated writes to just the one table.
    */
  def replicate(spark: SparkSession, baseDir: String, outDir: String,
                copies: Int,
                tables: Set[String] = allScaleTables): Unit = {
    if (tables("documents")) {
      val docs = Tables.documents(spark, baseDir)
      (0 until copies).map { i =>
        if (i == 0) docs
        else docs
          .withColumn("doc_id", col("doc_id") + lit(i * idStride))
          .withColumn("text", concat_ws(" ",
            expr(s"transform(split(text, ' '), t -> concat('r${i}_', t))")))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }
    if (tables("embeddings")) {
      val embs = Tables.embeddings(spark, baseDir)
      (0 until copies).map { i =>
        if (i == 0) embs
        else embs.withColumn("vec_id", col("vec_id") + lit(i * idStride))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }
    // events: replica-disjoint event AND user ids, timestamps kept —
    // N× rows = N× users over the same time range, so per-user event
    // counts (and thus as-of/window group sizes) stay constant
    if (tables("events")) {
      val evs = Tables.events(spark, baseDir)
      (0 until copies).map { i =>
        if (i == 0) evs
        else evs
          .withColumn("event_id", col("event_id") + lit(i * idStride))
          .withColumn("user_id", col("user_id") + lit(i * idStride))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }
  }

  /** Which base table a query's row-throughput is measured against —
    * krows/s at each point gives sub-second cells a like-for-like basis
    * (a fixed-overhead-dominated x1 makes the raw time ratio read as a
    * scaling defect when per-row cost actually FELL).
    */
  private val tableOf: Map[String, String] =
    (Seq("e03_ann_lsh", "e05_ann_ivf", "e07_semantic_dedup", "e08_int8_quant",
      "e09_ann_pq", "e20_binary_quant", "e23_mmr_rerank",
      "d17_semantic_decontamination", "e24_filtered_ivf",
      "e25_ann_recall_filtered", "e26_ivf_append", "e27_pq_append",
      "e28_index_drift", "e29_ivfpq_append",
      "e31_pq_code_drift", "e32_ivfpq_drift", "e33_durable_append",
      "e36_shard_merge", "e35_index_epochs", "e43_ivfpq_rerank",
      "e45_index_delete", "e47_ivf_retrain",
      "e50_published_retrain_search")
      .map(_ -> "embeddings") ++
      Seq("q56_asof_attribution", "q58_salted_agg", "q66_event_funnel",
        "q57_range_error_proximity").map(_ -> "events")).toMap
      .withDefaultValue("documents")

  /** Tables a query reads BEYOND its throughput-basis table (drives
    * replication): the filtered-ANN pair builds its keep set from the
    * documents table while scanning embeddings.
    */
  private val extraTablesOf: Map[String, Set[String]] =
    Map("e24_filtered_ivf" -> Set("documents"),
      "e25_ann_recall_filtered" -> Set("documents"))
      .withDefaultValue(Set.empty)

  /** One `prov_*` cell over `n` rows: min-of-2 seconds with capture
    * on, then off. Each run gets a fresh session and store, deleted
    * once timed (a 20M-row element store is ~4 GB); the relational
    * input is written under `workDir` and deleted afterwards.
    */
  private def provCell(spark: SparkSession, cell: String, n: Int,
                       workDir: String): (Double, Double) = {
    import spark.implicits._
    val rel = s"$workDir/prov_rel_$n.parquet"
    def timed(run: String => Int): Double = {
      val store = Files.createTempDirectory(Paths.get(workDir), "prov").toString
      try {
        val t0 = System.nanoTime()
        require(run(store) == 1000)
        (System.nanoTime() - t0) / 1e9
      } finally FileUtils.deleteDirectory(new java.io.File(store))
    }
    def rdd(capture: Boolean): Double = timed { store =>
      val s = ProvSession.create(spark, "scale", store, captureEnabled = capture)
      // the `k;v` lines are generated on the executors: a driver-side
      // Seq of 20M strings ships ~70 MB per task at x100
      val out = s.range(n).map(i => s"k${i % 1000};$i", "lines")
        .map { line => val p = line.split(";"); (p(0), p(1).toLong) }
        .filter(_._2 % 3 != 0)
        .reduceByKey(_ + _)
        .collect()
      s.close()
      out.length
    }
    def frame(capture: Boolean, g: Granularity): Double = timed { store =>
      val df = spark.read.parquet(rel)
      if (capture) {
        val s = ProvSession.create(spark, "scale-rel", store)
        val out = RelationalProvenance.table(s, df, "src", Seq("k", "v"), g)
          .select("widen")(col("k"), col("v"), (col("v") * 2).as("v2"))
          .filter(col("v") % 3 =!= 0)
          .groupByAgg(Seq(col("k")), Seq(sum(col("v2")).as("s")))
          .result.collect()
        s.close()
        out.length
      } else df.select(col("k"), col("v"), (col("v") * 2).as("v2"))
        .filter(col("v") % 3 =!= 0)
        .groupBy(col("k")).agg(sum(col("v2")).as("s"))
        .collect().length
    }
    def min2(run: => Double): Double = math.min(run, run)
    Files.createDirectories(Paths.get(workDir))
    try cell match {
      case "prov_rdd" => (min2(rdd(capture = true)), min2(rdd(capture = false)))
      case _ =>
        val g = if (cell == "prov_frame_task") Granularity.Task
                else Granularity.Element
        spark.range(n).select(concat(lit("k"), col("id") % 1000).as("k"),
          col("id").as("v")).write.mode("overwrite").parquet(rel)
        (min2(frame(capture = true, g)), min2(frame(capture = false, g)))
    } finally FileUtils.deleteDirectory(new java.io.File(rel))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 2) args(2).toInt else 10
    val workDir = if (args.length > 1) args(1) else s"/tmp/graft_scale$copies"
    // optional 4th arg: comma-separated subset for re-timing single cells
    val queries = if (args.length > 3)
      args(3).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    else scaleQueries
    val spark = LocalSpark.session(LocalSpark.envCpus(32), "graft-scalebench")

    // only the tables this run's queries read need replicas; the prov_*
    // cells read none
    val tableQueries = queries.filterNot(provCells.contains)
    val needed: Set[String] =
      tableQueries.map(tableOf).toSet ++ tableQueries.flatMap(n =>
        extraTablesOf(n.split("@cap").head)).toSet

    // SPARK_GRAFT_SCALE_REUSE=1 skips re-replication when the workDir
    // already holds every needed table — re-timing single cells against
    // a previously built replica set (ONLY valid for the same `copies`)
    def present(t: String) =
      new java.io.File(s"$workDir/$t.parquet/_SUCCESS").exists()
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
      needed.forall(present)
    if (!reuse) replicate(spark, baseDir, workDir, copies,
      needed.filterNot(t =>
        sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") && present(t)))

    def runOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } finally spark.catalog.clearCache()
    }
    def runMin2(name: String, dir: String): Double = {
      val a = runOnce(name, dir); val b = runOnce(name, dir)
      math.min(a, b)
    }

    // JVM/codegen warmup
    if (provCells.contains(queries.head))
      provCell(spark, queries.head, provRows, workDir)
    else runOnce(queries.head.split("@cap").head, baseDir)

    val rowCounts: Map[String, (Long, Long)] =
      needed.toSeq.map { t =>
        t -> (spark.read.parquet(s"$baseDir/$t.parquet").count(),
          spark.read.parquet(s"$workDir/$t.parquet").count())
      }.toMap

    val rows = queries.map {
      case c if provCells.contains(c) =>
        val (on1, off1) = provCell(spark, c, provRows, workDir)
        val (onN, offN) = provCell(spark, c, provRows * copies, workDir)
        (c, on1, onN, provRows.toLong, provRows.toLong * copies,
          f""","off_x1":$off1%.3f,"off_x$copies":$offN%.3f,"factor_x1":${on1 / off1}%.2f,"factor_x$copies":${onN / offN}%.2f""")
      case n0 =>
      // "query@capN" variants run the same gated query under
      // spark.graft.phashBucketCap=N — the hot-bucket lever measured
      // beside its uncapped cell
      val (n, cap) = n0.split("@cap") match {
        case Array(q, c) => (q, Some(c.toLong))
        case _           => (n0, None)
      }
      cap.foreach(c =>
        spark.conf.set("spark.graft.phashBucketCap", c.toString))
      try {
      val x1 = runMin2(n, baseDir)
      // size d13's bloom to its corpus, as production would: the xN run
      // sketches N× the distinct segments, so m grows N× to keep the
      // per-bit load (and thus the FP regime) constant across scales
      val xn =
        if (n == "d13_bloom_incremental") {
          spark.conf.set("spark.graft.bloomBits",
            (operators.DedupQueries.BloomSketch.mBitsDefault.toLong * copies)
              .toString)
          try runMin2(n, workDir)
          finally spark.conf.unset("spark.graft.bloomBits")
        } else if (n == "d15_cross_decontamination" ||
            n == "d17_semantic_decontamination") {
          // fixed-benchmark deployment shape: only replica-0 ids are
          // eval docs, so the replicas grow the screened corpus alone.
          // (A no-op at x1 — every base id is below the stride — so the
          // x1 cell still equals the gated query's cost.)
          spark.conf.set("spark.graft.benchMaxDocId", (idStride - 1).toString)
          try runMin2(n, workDir)
          finally spark.conf.unset("spark.graft.benchMaxDocId")
        } else runMin2(n, workDir)
      val (r1, rn) = rowCounts(tableOf(n))
      (n0, x1, xn, r1, rn, "")
      } finally cap.foreach(_ =>
        spark.conf.unset("spark.graft.phashBucketCap"))
    }
    val qs = rows.map { case (n, x1, xn, r1, rn, extra) =>
      f""""$n":{"x1":$x1%.3f,"x$copies":$xn%.3f,"ratio":${xn / x1}%.2f,"krows_s_x1":${r1 / x1 / 1000.0}%.1f,"krows_s_x$copies":${rn / xn / 1000.0}%.1f$extra}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale$copies","base":"$baseDir","queries":$qs,"excluded_by_design":["d03_ngram_jaccard","e02_cosine_neardup"]}""")
    spark.stop()
  }
}
