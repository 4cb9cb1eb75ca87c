package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupQueries, MultimodalQueries, Ranking,
  SimilarityQueries, TextAnalysisQueries}
import graft.sources.IndexStore
import graft.streaming.EmbStreams

/** User-facing facade over the gated operator library: plain
  * DataFrame-in / DataFrame-out calls with documented input schemas, so
  * a pipeline author composes `Graft.minhashDedup(docs)` instead of
  * navigating the per-module [[graft.operators.QueryDef]] registries.
  *
  * NO LOGIC LIVES HERE. Every method delegates to the exact builder the
  * corresponding oracle-gated query runs — and the gates route THROUGH
  * these paths (e.g. `d04_minhash_lsh` calls [[minhashDedup]]), so the
  * driver's DuckDB correctness gate keeps covering the facade on every
  * round. GraftApiSpec additionally proves facade-on-raw-parquet ≡ gate
  * output for the representative ops.
  *
  * Quickstart:
  * {{{
  * import graft.api.Graft
  * val docs = spark.read.parquet("s3://corpus/documents")   // doc_id, text, source, ...
  * val emb  = spark.read.parquet("s3://corpus/embeddings")  // vec_id, embedding, label
  *
  * val dupes   = Graft.minhashDedup(docs)                   // (da, db, jaccard)
  * val clean   = Graft.decontaminate(docs, benchDocs)       // (train_id, bench_id, jaccard)
  * val scored  = Graft.qualityClassify(docs)                // (doc_id, n_tokens, quality_prob, keep)
  * val deciles = Graft.qualityBins(docs)                    // (decile, n_docs, n_tokens, q_min, q_max)
  * val index   = Graft.annIndex(emb)
  * val hits    = index.search(emb.filter($"vec_id" < 5))    // (query_id, rank, neighbor_id, cos)
  * }}}
  *
  * Column contracts (matching the driver testdata; see TESTDATA.md):
  * document frames carry (`doc_id` Long, `text` String, optionally
  * `source` String); embedding frames carry (`vec_id` Long, `embedding`
  * Array[Float], `label` Int for the trained-cell index). Deviating
  * column names can be `withColumnRenamed` into shape — the facade does
  * not guess.
  */
object Graft {

  // ------------------------------------------------------------------
  // Deduplication
  // ------------------------------------------------------------------

  /** Exact duplicate groups by content hash: one row per distinct text,
    * with the lowest doc_id as the canonical survivor and the copy
    * count. One map-side-combined shuffle at any scale.
    *
    * Input: (`idCol` Long, `textCol` String). Output: (content_hash,
    * keep_doc_id, n_copies). Gate: `d01_exact_dedup`.
    */
  def exactDedup(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    DedupQueries.exactDedupOf(docs, textCol, idCol)

  /** [[exactDedup]] after lowercasing + whitespace collapse — catches
    * formatting-only duplicates. Gate: `d02_normalized_dedup`.
    */
  def normalizedDedup(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    DedupQueries.normalizedDedupOf(docs, textCol, idCol)

  /** MinHash + LSH near-duplicate pairs, exact-Jaccard verified: 64
    * minhashes over word 3-gram shingles, banded for candidates,
    * `array_intersect` verification, keep pairs with Jaccard ≥
    * `threshold`. Candidates are banded — never all-pairs — and
    * verification touches only the candidate minority.
    *
    * RECALL CONTRACT: the banding is DERIVED from `threshold` — the
    * widest rows whose per-pair candidate recall at J = threshold
    * still clears 99% (16×4 at the default 0.8: recall
    * 1−(1−0.8⁴)¹⁶ ≈ 99.98% at J exactly = threshold, reaching
    * ≈ 1−10⁻⁶ by J ≈ 0.87; 32×2 at 0.5; 8×8 at 0.95 — lower
    * thresholds band finer for recall, higher thresholds band
    * coarser for candidate selectivity). So the guarantee holds at ANY threshold;
    * MinHashRecallSpec proves the 0.5 case equals the exact quadratic
    * baseline's answer set.
    *
    * Input: (doc_id Long, text String). Output: (da, db, jaccard),
    * da < db, unsorted. Gate: `d04_minhash_lsh`.
    */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    DedupQueries.minhashPairs(docs, threshold)

  /** SimHash near-duplicate pairs: 60-bit token signature, 4×15-bit
    * band LSH candidates, exact Hamming verify at ≤ `maxHamming`.
    * Banding is complete for Hamming ≤ 3 and probabilistic beyond —
    * the conventional SimHash regime (use [[minhashDedup]] for
    * guaranteed-recall Jaccard dedup).
    *
    * Input: (doc_id Long, text String). Output: (da, db, hamming),
    * da < db, unsorted. Gate: `d05_simhash`.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    DedupQueries.simhashPairs(docs, maxHamming)

  /** Near-duplicate CLUSTERS: Jaccard ≥ 0.5 pair graph → connected
    * components (Shiloach–Vishkin hook + shortcut, O(log n) rounds),
    * each document labeled with its component's min doc_id — the
    * canonical-survivor map a dedup pipeline actually emits. The result
    * is materialized executor-side; reuse the returned handle rather
    * than recomputing.
    *
    * Input: (doc_id Long, text String). Output: (doc_id, canonical_id),
    * unsorted. Gate: `d06_dedup_clusters` (via its per-(session, dir)
    * memo over this same body).
    *
    * EXACT-QUADRATIC FENCE: the shingle inverted-index self-join fans
    * a shingle appearing in k documents out to k² pairs, so inputs
    * above `spark.graft.quadraticMaxRows` throw unless
    * `spark.graft.allowQuadratic=true` — use the `maxDocFreq` overload
    * as the scale path.
    */
  def nearDupClusters(docs: DataFrame): DataFrame =
    DedupQueries.clusterLabelsOf(docs)

  /** [[nearDupClusters]]'s SCALE PATH — d08's document-frequency cap
    * feeding the same connected components: shingles occurring in more
    * than `maxDocFreq` documents are excluded from BOTH the inverted
    * index and the per-doc set sizes, bounding self-join fan-out at
    * (maxDocFreq choose 2) pairs per shingle no matter how hot a
    * boilerplate stop-phrase gets (a hyper-duplicated class is
    * [[exactDedup]]'s job, not the pairwise verifier's). When no
    * shingle exceeds the cap the labels EQUAL the exact path
    * (DedupCapSpec proves it). Unfenced — the cap is the fence.
    *
    * Input: (doc_id Long, text String). Output: (doc_id, canonical_id),
    * unsorted. Gate: `d18_clusters_capped`.
    */
  def nearDupClusters(docs: DataFrame, maxDocFreq: Int): DataFrame =
    DedupQueries.clusterLabelsOfCapped(docs, maxDocFreq)

  /** Cross-corpus fuzzy decontamination: flag training documents whose
    * shingle Jaccard against ANY benchmark document reaches `threshold`.
    * The benchmark side is broadcast (bands and shingle arrays alike),
    * so the 100 TB training corpus never shuffles for candidate
    * generation — the asymmetric d15 shape.
    *
    * Inputs: two (doc_id Long, text String) frames; `bench` must be the
    * small (benchmark/eval) side. Output: (train_id, bench_id, jaccard),
    * unsorted. Gate: `d15_cross_decontamination`.
    */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    threshold: Double = 0.5): DataFrame = {
    // localCheckpoint, not cache(): the broadcast bench side feeds both
    // the band join and the exact-verify join, and checkpoint blocks
    // die with the handle (ContextCleaner) — a cache() here would leave
    // a session-lifetime CacheManager entry per distinct bench frame.
    // eager = false keeps plan-build lazy (no Spark job until the
    // caller executes the result). Caveat either way: localCheckpoint
    // blocks are non-reliable — an executor loss after materialization
    // fails downstream actions rather than recomputing.
    val benchSigs = DedupQueries
      .d15Sigs(DedupQueries.shingleArraysOf(bench))
      .localCheckpoint(eager = false)
    val trainSigs = DedupQueries.d15Sigs(DedupQueries.shingleArraysOf(train))
    DedupQueries.decontScreen(trainSigs, benchSigs, threshold)
  }

  /** Cross-document substring (word 5-gram) dedup: flag `window`-grams
    * shared by ≥ 2 documents, report each document's duplicated-token
    * coverage and the md5 of its scrubbed text. One map-side-combinable
    * shuffle on the gram hash.
    *
    * Input: (doc_id Long, text String). Output: (doc_id, n_tokens,
    * n_flagged_grams, covered_tokens, covered_frac, cleaned_md5),
    * unsorted. Gate: `d12_substring_dedup`.
    */
  def substringDedup(docs: DataFrame, window: Int = 5): DataFrame =
    DedupQueries.substringScrub(docs, window)

  /** (doc_id, h) md5 hashes of each document's 10-token segments — the
    * unit the incremental Bloom dedup operates on.
    * Gate: `d13_bloom_incremental` (via [[bloomSketch]]/[[bloomScreen]]).
    */
  def segmentHashes(docs: DataFrame): DataFrame =
    DedupQueries.BloomSketch.segmentHashesOf(docs)

  /** Bloom sketch of a segment-hash set: (w, word) rows — ≤ mBits/32 of
    * them, bit_or-mergeable — wrapped with the `mBits` they were built
    * under, so a probe can never screen with a mismatched modulus (bit
    * positions are computed `% mBits`; probing with a different m
    * silently yields false negatives, defeating the dedup). Merge
    * sketches only via [[BloomIndex.merge]], which enforces equal
    * mBits. Size `mBits` to the corpus (~10 bits per expected distinct
    * segment for ~1% FP at 3 hashes).
    */
  def bloomSketch(segHashes: DataFrame,
                  mBits: Int = DedupQueries.BloomSketch.mBitsDefault)
      : BloomIndex =
    BloomIndex(DedupQueries.BloomSketch.sketchOf(segHashes, mBits), mBits)

  /** A built Bloom sketch: `words` = (w, word) bit rows, `mBits` = the
    * modulus every position in `words` was computed under.
    */
  final case class BloomIndex private[api] (words: DataFrame, mBits: Int) {
    /** Union with another sketch — exact (bit_or distributes over set
      * union, the incremental-ingest property, spec-proven). Both
      * sketches must share `mBits`; positions are not re-computable
      * from the words alone.
      */
    def merge(other: BloomIndex): BloomIndex = {
      require(mBits == other.mBits,
        s"cannot merge Bloom sketches of different sizes: $mBits vs ${other.mBits}")
      BloomIndex(words.unionByName(other.words)
        .groupBy(col("w"))
        .agg(expr("bit_or(word)").as("word")), mBits)
    }

    /** Persist to `dir` ([[graft.sources.IndexStore]] layout) — the
      * carried `mBits` rides in the manifest, so [[loadBloomIndex]]
      * restores a sketch that can no more be probed with a mismatched
      * modulus than a live one.
      */
    def save(dir: String): Unit = IndexStore.saveBloom(dir, words, mBits)

    /** [[merge]] made DURABLE — the d13 incremental-ingest loop
      * against a saved sketch: sketch the arriving batch under this
      * handle's modulus and bit_or-fold it INTO the stored word table
      * (temp-dir + rename swap; idempotent under crash-retry because
      * bit_or is), then reopen. Epoch op `append`. A restarted JVM's
      * [[loadBloomIndex]] probes everything ingested so far.
      */
    def appendDurable(dir: String, docs: DataFrame): BloomIndex = {
      IndexStore.appendBloom(dir,
        DedupQueries.BloomSketch.sketchOf(segmentHashes(docs), mBits))
      loadBloomIndex(docs.sparkSession, dir)
    }

    /** [[appendDurable]]'s streaming sibling — each micro-batch of
      * arriving documents sketches under this handle's modulus and
      * bit_or-folds INTO the saved layout (checkpoint-scoped marker
      * idempotency, the [[IvfIndex.appendStreamDurable]] recipe —
      * doubly safe here because the fold itself is idempotent).
      */
    def appendStreamDurable(arrivals: Dataset[graft.streaming.DocStreams.Doc],
                            dir: String,
                            checkpointDir: Option[String] = None)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.durableIngest(arrivals, checkpointDir) { batch =>
        IndexStore.appendBloom(dir, DedupQueries.BloomSketch.sketchOf(
          segmentHashes(batch.toDF().select(col("doc_id"), col("text"))),
          mBits))
      }
  }

  /** Reopen a [[BloomIndex]] saved with [[BloomIndex.save]]. Loading a
    * directory holding a different index kind fails loudly.
    */
  def loadBloomIndex(spark: SparkSession, dir: String): BloomIndex = {
    val (words, mBits) = IndexStore.loadBloom(spark, dir)
    BloomIndex(words, mBits)
  }

  /** Screen an arriving batch against an existing corpus's broadcast
    * [[bloomSketch]]: (doc_id, h, bloom_hit) per batch segment — probe
    * positions use the sketch's own carried `mBits`, so a modulus
    * mismatch is impossible by construction. Exact verification of the
    * hit minority (a join against the corpus segments) is the caller's
    * second stage — work proportional to the hits, never the corpus.
    *
    * Input: batch documents (doc_id, text) + the built sketch.
    * Gate: `d13_bloom_incremental` (routes its probe stage through
    * this).
    */
  def bloomScreen(batch: DataFrame, sketch: BloomIndex): DataFrame =
    DedupQueries.BloomSketch.probe(segmentHashes(batch), sketch.words,
      sketch.mBits)

  /** GENERATION-AWARE Bloom screening — [[bloomScreen]] bound to a
    * [[publishIndex]] root: every micro-batch re-resolves
    * [[currentIndexGeneration]] and probes the current sketch, so
    * rebuilding the corpus sketch (e.g. after a retention sweep
    * shrank the corpus — a bit_or sketch can only grow, rebuilds are
    * how it forgets) and publishing flips a live screening fleet on
    * its next batch with no restart. Completes the generation-aware
    * read side across all four screening kinds
    * ([[serveCurrentAnnIndex]], [[lshScreenStreamCurrent]],
    * [[phashScreenStreamCurrent]] are the siblings; a flipped
    * sketch's own `mBits` rides with it, so a generation that
    * changed modulus probes correctly by construction). The sketch
    * reloads only when the generation number changes; each batch
    * resolves once — no mixed-generation batch. `onBatch` receives
    * (generation, (doc_id, h, bloom_hit) verdicts).
    */
  def bloomScreenStreamCurrent(root: String,
                               incoming: Dataset[graft.streaming.DocStreams.Doc])
                              (onBatch: (Int, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val current = new IndexStore.GenerationCache(root, loadBloomIndex)
    incoming.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch {
        (batch: Dataset[graft.streaming.DocStreams.Doc], _: Long) =>
          val (gen, sketch) = current.resolve(batch.sparkSession)
          onBatch(gen, bloomScreen(
            batch.toDF().select(col("doc_id"), col("text")), sketch))
      }
      .start()
  }

  /** Build the DURABLE LSH dedup index — the dedup family's analogue
    * of [[annIndex]]: MinHash signatures (the d09 md5-derived,
    * DuckDB-replayable protocol) + the threshold-derived band-bucket
    * table over the corpus, persisted once, then arriving documents
    * SCREEN against it without ever rescanning or re-signing the
    * stored corpus — near-dup-dedup-at-ingest against a 100 TB corpus
    * costs one signature pass over the batch plus a bucket probe.
    * Signatures are a pure function of the text (no trained
    * artifacts), so append-encode ≡ build-encode by construction.
    *
    * Input: (doc_id Long, text String). Gate: `d19_lsh_index_screen`
    * (save → load → screen, full mechanics replayed by the oracle).
    */
  def lshIndex(docs: DataFrame, threshold: Double = 0.8): LshIndex = {
    val numHashes = 64
    val rowsPerBand = DedupQueries.derivedRowsPerBand(threshold, numHashes)
    // lazily checkpoint the signatures — the bm25Build pattern: a save
    // consumes them FOUR ways (the auto-sizing count, the sigs write,
    // the band write, the band-key sketch) and signing (md5 per
    // shingle × 64 mins) dominates the build, so without the blocks
    // the corpus would re-sign per consumer (measured: the x100 save
    // spent ~60% of its wall re-running the signing pipeline). Blocks
    // die with the handle via the ContextCleaner.
    val sigs = DedupQueries.lshSignatures(docs, numHashes)
      .localCheckpoint(eager = false)
    LshIndex(sigs, DedupQueries.lshBandRows(sigs, rowsPerBand, numHashes),
      threshold, numHashes, rowsPerBand)
  }

  /** A built LSH dedup index: `sigs` = (vec_id, sig) MinHash
    * signatures of the stored corpus, `bands` = (vec_id, band, bkey)
    * bucket rows, plus the banding parameters screening replays.
    * `probeBuckets` > 0 marks a handle LOADED from a bucketed (v2)
    * store: its frames carry the store's `sb`/`bb` partition columns
    * and [[screen]] prunes its scans to the batch's buckets' files
    * (0 = live-built or v1 — screens run unpruned). `bkeyBloom` is
    * the store's band-key Bloom sketch ((w, word) frame, bit size):
    * [[screen]] probes the batch's band keys against it FIRST, so a
    * definitely-novel key never touches the stored tables at all —
    * sound because a Bloom has no false negatives (a rejected key
    * matches no stored bucket; FPs only cost probes, never change a
    * verdict).
    */
  final case class LshIndex private[api] (
      sigs: DataFrame, bands: DataFrame, threshold: Double,
      numHashes: Int, rowsPerBand: Int, probeBuckets: Int = 0,
      bkeyBloom: Option[(DataFrame, Int)] = None) {

    /** Near-dup verdicts for an arriving batch vs the STORED corpus:
      * the batch's band keys probe the stored buckets (incoming side
      * broadcast — the stored band table never shuffles), candidates
      * verify by the MinHash estimate thresholded on the integer
      * match count. `bucketCap` excludes stored buckets above `cap`
      * members (d09's hot-bucket mitigation). Output: (doc_id,
      * stored_id, est_jaccard), unsorted.
      *
      * SIZE CONTRACT: `newDocs` is an INGEST BATCH — its banded keys
      * broadcast to every executor, so screen in bounded batches
      * (the streaming surfaces do this naturally); an oversized batch
      * fails loudly at the broadcast, never silently shuffles the
      * stored index. Set `spark.graft.maxScreenBatchRows` to PIN the
      * contract at a named boundary instead: over-threshold batches
      * then fail with a message that says why, before any store I/O
      * (ProbePruningSpec drives the failure).
      */
    def screen(newDocs: DataFrame,
               bucketCap: Option[Int] = None): DataFrame =
      DedupQueries.lshScreenOf(sigs, bands, newDocs, threshold,
        rowsPerBand, bucketCap, numHashes, probeBuckets, bkeyBloom)

    /** Screen an unbounded document stream against this index — the
      * at-ingest shape: each micro-batch runs the exact gated
      * [[screen]] kernel; `onBatch` receives its verdicts. Stop the
      * returned query when done.
      */
    def screenStream(incoming: Dataset[graft.streaming.DocStreams.Doc],
                     bucketCap: Option[Int] = None)
                    (onBatch: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      incoming.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .foreachBatch {
          (batch: Dataset[graft.streaming.DocStreams.Doc], _: Long) =>
            onBatch(screen(
              batch.toDF().select(col("doc_id"), col("text")), bucketCap))
        }
        .start()

    /** Add NEW documents to the LIVE handle — signatures are a pure
      * text function, so append cannot drift from build. On a LOADED
      * handle the result reverts to unpruned screening (the union is
      * no longer file-backed); [[appendDurable]] keeps the pruned
      * path.
      */
    def append(docs: DataFrame): LshIndex = {
      val newSigs = DedupQueries.lshSignatures(docs, numHashes)
      copy(sigs = sigs.drop("sb").unionByName(newSigs),
        bands = bands.drop("bb").unionByName(
          DedupQueries.lshBandRows(newSigs, rowsPerBand, numHashes)),
        probeBuckets = 0, bkeyBloom = None)
    }

    /** [[append]] made DURABLE: sign the arrivals and parquet-append
      * signatures + band rows INTO the saved layout at `dir` (band
      * rows land only under their bands' partition dirs), then
      * reopen. Epoch op `append` with the signature-row delta.
      */
    def appendDurable(dir: String, docs: DataFrame): LshIndex = {
      val newSigs = DedupQueries.lshSignatures(docs, numHashes)
      IndexStore.appendLsh(dir, newSigs,
        DedupQueries.lshBandRows(newSigs, rowsPerBand, numHashes))
      loadLshIndex(docs.sparkSession, dir)
    }

    /** DELETE documents from the LIVE handle — [[IvfIndex.delete]]'s
      * contract for the dedup index: the ids anti-join out of BOTH
      * the signature and band tables. Durable stores delete via
      * [[deleteFromIndex]] (`ids` keyed by `vec_id` = doc_id).
      */
    def delete(ids: DataFrame): LshIndex = {
      val t = broadcast(ids.select(col("vec_id")))
      copy(sigs = sigs.join(t, Seq("vec_id"), "left_anti"),
        bands = bands.join(t, Seq("vec_id"), "left_anti"))
    }

    /** Export a SHARD: sign `docs` and save them as a self-contained
      * LSH index directory — the map step of a parallel index build,
      * foldable by [[mergeIndex]] (per-band-dir renames; the banding
      * PARAMETERS are value-checked, so a shard banded differently is
      * refused).
      */
    def shard(dir: String, docs: DataFrame): Unit = {
      val newSigs = DedupQueries.lshSignatures(docs, numHashes)
      IndexStore.saveLsh(dir, newSigs,
        DedupQueries.lshBandRows(newSigs, rowsPerBand, numHashes),
        threshold, numHashes, rowsPerBand)
    }

    /** Persist to `dir` ([[graft.sources.IndexStore]] layout): flat
      * signature table + the band table PARTITIONED BY band + the
      * one-row params table; compact/vacuum/describe/epochs/delete
      * all apply unchanged.
      */
    def save(dir: String): Unit =
      IndexStore.saveLsh(dir, sigs, bands, threshold, numHashes,
        rowsPerBand)
  }

  /** Reopen an [[LshIndex]] saved with [[LshIndex.save]] — no
    * re-signing; screening runs the gated kernel, tombstoned ids are
    * anti-joined out of both tables.
    */
  def loadLshIndex(spark: SparkSession, dir: String): LshIndex = {
    val (sigs, bands, threshold, numHashes, rowsPerBand, nBuckets,
      bloom) = IndexStore.loadLsh(spark, dir)
    LshIndex(sigs, bands, threshold, numHashes, rowsPerBand, nBuckets,
      bloom)
  }

  /** Build the DURABLE BM25 index — lexical retrieval's persistent
    * half (the dense half is [[annIndex]]; [[hybridSearch]] fuses
    * them): postings (vec_id, tok, tf), doc lengths, and the
    * document-frequency table, buildable once and persisted as store
    * kind `bm25`. Searching costs ONE token-keyed equi-join over the
    * postings with the idf-annotated query terms broadcast (e22's
    * gated lexical kernel — shared code) — at 100 TB the postings
    * never shuffle for candidate generation.
    *
    * Input: (doc_id Long, text String). Gate: `e48_bm25_store`
    * (save → load → searchText vs the full BM25 SQL replay).
    */
  def bm25Index(docs: DataFrame): Bm25Index = {
    val (postings, doclen, df) = SimilarityQueries.bm25Build(docs)
    Bm25Index(postings, doclen, df)
  }

  /** A built BM25 index: `postings` = (vec_id, tok, tf), `doclen` =
    * (vec_id, dl), `df` = (tok, df) — Lucene-style scoring artifacts
    * (k1/b are SEARCH-time parameters, not baked into the layout).
    * `probeBuckets` > 0 marks a handle LOADED from a bucketed (v2)
    * store: the token-keyed frames carry the store's `tb` partition
    * column and [[searchText]] prunes the postings/df scans to the
    * query terms' buckets' files (0 = live-built or v1 — unpruned).
    * A handle loaded from a DENORMALIZED store ([[save]]'s
    * `denormDl`) additionally carries `dl` on its postings rows, and
    * search skips the candidates↔doclen join entirely. `statsSeed`
    * supplies (n_docs, Σdl) without touching doclen at search time —
    * set from the store's persisted stats table on load, FOLDED
    * positively by [[append]] and negatively by [[delete]] (the
    * deleted batch's (count, Σdl) subtract — computed at delete time,
    * id-pruned); None falls back to the doclen aggregate.
    */
  final case class Bm25Index private[api] (
      postings: DataFrame, doclen: DataFrame, df: DataFrame,
      probeBuckets: Int = 0,
      private[api] val statsSeed: Option[() => (Long, Long)] = None) {

    /** (N, avgdl) pulled ONCE per handle — corpus constants under the
      * handle's immutability. Without this every search re-aggregated
      * the doc-count-sized doclen table for two scalars — a
      * billion-row scan per query batch at 100 TB. A handle LOADED
      * from a store seeds them from the persisted stats table
      * (`statsSeed` — so the append→reopen→first-search cycle never
      * scans doclen either, round 15 — and the stats stay live-only
      * through deletes, so neither does the delete→reopen cycle,
      * round 16); a live [[append]] FOLDS the seed (+batch docs,
      * +batch Σdl — batch-sized) and a live [[delete]] folds it
      * negatively; live-built and pre-stats-table handles fall back
      * to the doclen aggregate. Both paths are bit-identical: doc lengths
      * are integers, so the double sum `avg` accumulates is exact
      * (< 2^53) and equals `Σdl.toDouble / N`. Pinned at first search
      * for the handle's lifetime — reopen after an external
      * append/compact to the same directory (the documented
      * reopen-after-maintenance caveat). An empty corpus yields
      * (0, 0.0) and an empty ranking downstream.
      */
    private lazy val corpusStats: (Long, Double) = statsSeed match {
      case Some(f) =>
        val (n, s) = f()
        (n, if (n == 0L) 0.0 else s.toDouble / n)
      case None =>
        val r = doclen.agg(count(lit(1)).as("n"), avg(col("dl")).as("a"))
          .collect()(0)
        (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    }

    /** BM25 top-`k` per query. `queries`: (query_id Long, text
      * String); query-side term frequency is ignored (the e22
      * convention — each distinct query term scores once). Output:
      * (query_id, rank, doc_id, s_bm25) sorted; s_bm25 carries the
      * float-cast 4dp protocol, ranks tie-break on doc id.
      *
      * On a bucketed store the query terms derive their `tb` buckets
      * with the store's own expression and the literal set (pulled
      * driver-side from the SMALL query side) prunes the postings and
      * df scans at the file level — search I/O is O(query terms'
      * buckets), not O(index). `queries` is a QUERY BATCH by size
      * contract (its idf-annotated terms broadcast).
      *
      * The corpus stats (N, avgdl) are PINNED at the handle's first
      * search (seeded from the store's stats table on a loaded
      * handle) — a handle held across an external append/compact to
      * the same directory scores freshly-listed postings against the
      * pinned stats; reopen after maintenance (the documented
      * caveat).
      */
    def searchText(queries: DataFrame, k: Int = 5, k1: Double = 1.2,
                   b: Double = 0.75): DataFrame =
      rankText(queries, k, k1, b, excludeSelf = false)
        .select(col("query_id"), col("r_bm25").cast("long").as("rank"),
          col("did").as("doc_id"), col("s_bm25"))
        .orderBy(col("query_id"), col("rank"))

    /** [[searchText]]'s ranking, unsorted: (query_id, did, s_bm25,
      * r_bm25). `excludeSelf` drops a doc whose id equals its query's
      * id — the e22 rule [[hybridSearch]] applies to both halves.
      */
    private[graft] def rankText(queries: DataFrame, k: Int, k1: Double,
                                b: Double, excludeSelf: Boolean): DataFrame = {
      val terms = queries
        .select(col("query_id"),
          explode(split(col("text"), " ")).as("tok"))
        .distinct()
        .localCheckpoint(eager = false)
      val (p, d) =
        if (probeBuckets > 0 && postings.columns.contains("tb")) {
          val tbs = terms
            .select(pmod(hash(col("tok")), lit(probeBuckets)).as("tb"))
            .distinct().collect().map(_.getInt(0)).toSeq
          if (tbs.isEmpty)
            (postings.filter(lit(false)), df.filter(lit(false)))
          else (postings.filter(col("tb").isInCollection(tbs)),
            if (df.columns.contains("tb"))
              df.filter(col("tb").isInCollection(tbs))
            else df)
        } else (postings, df)
      SimilarityQueries.bm25Rank(p, doclen, d, terms, k, k1, b,
        excludeSelf = excludeSelf,
        dlOnPostings = postings.columns.contains("dl"),
        corpusStats = Some(corpusStats))
    }

    /** Add NEW documents to the LIVE handle: postings/doclen union;
      * the df AGGREGATE merges by union + sum. A LOADED handle's
      * layout is PRESERVED (round 15 — previously the union dropped
      * it, silently reverting a pruned handle to full-scan, join-in-
      * plan screening, a 10–80× serving-I/O cliff): the batch's rows
      * derive `tb` with the store's own expression and modulus, carry
      * `dl` when the store is denormalized, and the handle's
      * (N, avgdl) seed FOLDS (+batch docs, +batch Σdl — batch-sized,
      * evaluated lazily at the new handle's first search), so the
      * appended handle still file-prunes, still skips the doclen
      * join, and still never aggregates the corpus.
      *
      * ID CONTRACT: `docs` must carry doc_ids DISJOINT from the
      * indexed corpus — the df sum is exact only when no document is
      * counted twice, so appending an already-indexed doc_id silently
      * double-counts its postings rows and df contribution (skewing
      * idf until a [[Graft.compactIndex]] recomputes df on the
      * durable path; the live handle has no heal). Same contract as
      * [[appendDurable]]/[[appendStreamDurable]], which enforce it by
      * default (`requireNewIds = true`).
      */
    def append(docs: DataFrame): Bm25Index = {
      val (p2, dl2, df2) = SimilarityQueries.bm25Build(docs)
      val denorm = postings.columns.contains("dl")
      val bucketed = probeBuckets > 0 && postings.columns.contains("tb")
      val p2d =
        if (denorm)
          p2.join(dl2.select(col("vec_id"), col("dl")), Seq("vec_id"))
        else p2
      val p2s =
        if (bucketed)
          p2d.withColumn("tb",
            pmod(hash(col("tok")), lit(probeBuckets)))
        else p2d
      val dfNew0 = df.drop("tb").unionByName(df2).groupBy(col("tok"))
        .agg(sum(col("df")).as("df"))
      val dfNew =
        if (bucketed && df.columns.contains("tb"))
          dfNew0.withColumn("tb",
            pmod(hash(col("tok")), lit(probeBuckets)))
        else dfNew0
      val foldedSeed = statsSeed.map(f => () => {
        val (n, s) = f()
        val r = dl2.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
          .collect()(0)
        (n + r.getLong(0), s + (if (r.isNullAt(1)) 0L else r.getLong(1)))
      })
      Bm25Index(postings.unionByName(p2s), doclen.unionByName(dl2),
        dfNew, if (bucketed) probeBuckets else 0, foldedSeed)
    }

    /** [[append]] made DURABLE — postings/doclen parquet-append, the
      * df table folds through a temp swap (partial — only the batch
      * tokens' buckets — on a bucketed store), `doclen` lands as the
      * commit point, and the persisted corpus stats fold (+batch
      * docs, +batch Σdl), so the reopened handle's first search is
      * seeded without any corpus scan. [[append]]'s disjoint-id
      * contract is enforced BY DEFAULT (`requireNewIds = true` — one
      * broadcast semi-join of the batch ids; fails loudly on overlap
      * instead of silently double-counting df); pass `false` only for
      * provably-disjoint producers. Crash recovery:
      * [[Graft.repairIndex]], or see
      * [[graft.sources.IndexStore.appendBm25]].
      */
    def appendDurable(dir: String, docs: DataFrame,
                      requireNewIds: Boolean = true): Bm25Index = {
      val (p2, dl2, df2) = SimilarityQueries.bm25Build(docs)
      IndexStore.appendBm25(dir, p2, dl2, df2, requireNewIds)
      loadBm25Index(docs.sparkSession, dir)
    }

    /** [[appendDurable]]'s streaming sibling — each micro-batch of
      * arriving documents builds its postings/doclen/df slice with
      * the shared kernel and appends INTO the saved layout
      * (checkpoint-scoped marker idempotency; doclen stays the
      * per-batch commit point). [[append]]'s disjoint-id contract is
      * enforced per batch BY DEFAULT — `requireNewIds = true` fails a
      * batch that re-delivers an already-indexed doc_id instead of
      * silently double-counting its df (replayed BATCHES are skipped
      * by the checkpoint markers before the check, so replays cost
      * nothing); pass `false` only for provably-disjoint producers.
      */
    def appendStreamDurable(arrivals: Dataset[graft.streaming.DocStreams.Doc],
                            dir: String,
                            checkpointDir: Option[String] = None,
                            requireNewIds: Boolean = true)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.durableIngest(arrivals, checkpointDir) { batch =>
        val (p2, dl2, df2) = SimilarityQueries.bm25Build(
          batch.toDF().select(col("doc_id"), col("text")))
        IndexStore.appendBm25(dir, p2, dl2, df2, requireNewIds)
      }

    /** DELETE documents from the LIVE handle: postings and doclen
      * anti-join (candidates and length normalization exclude them
      * immediately); `df` deliberately keeps counting them until a
      * [[compactIndex]] recomputes it — Lucene's
      * deleted-docs-count-in-idf-until-merge semantics, documented
      * rather than hidden (recomputing df per delete would scan the
      * postings every time).
      */
    def delete(ids: DataFrame): Bm25Index = {
      val t = broadcast(ids.select(col("vec_id")))
      // the stats seed FOLDS NEGATIVELY: N/avgdl must exclude deleted
      // docs immediately (they no longer normalize lengths), and the
      // deleted batch's (count, Σdl) is exactly what the seed loses.
      // The aggregate runs EAGERLY HERE — an ids-range-pruned
      // semi-join against THIS handle's doclen (already excluding any
      // prior deletes, so a double delete subtracts zero), batch-sized
      // work at delete time — so the new handle's first search still
      // scans doclen ZERO times (ProbePruningSpec pins it). Round 15
      // dropped the seed here, paying the masked O(corpus)
      // re-aggregate the round's own append work had just eliminated.
      val folded = statsSeed.map { f =>
        val rng = ids.agg(min(col("vec_id").cast("long")).as("lo"),
          max(col("vec_id").cast("long")).as("hi")).collect()(0)
        val (dn, ds) =
          if (rng.isNullAt(0)) (0L, 0L)
          else {
            val r = doclen
              .filter(col("vec_id").between(rng.getLong(0),
                rng.getLong(1)))
              .join(t, Seq("vec_id"), "left_semi")
              .agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
              .collect()(0)
            (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
          }
        () => { val (n, s) = f(); (n - dn, s - ds) }
      }
      copy(postings = postings.join(t, Seq("vec_id"), "left_anti"),
        doclen = doclen.join(t, Seq("vec_id"), "left_anti"),
        statsSeed = folded)
    }

    /** Export a SHARD over `docs` — foldable by [[mergeIndex]]
      * (postings/doclen move by rename; df folds by union + sum).
      */
    def shard(dir: String, docs: DataFrame): Unit = {
      val (p2, dl2, df2) = SimilarityQueries.bm25Build(docs)
      IndexStore.saveBm25(dir, p2, dl2, df2)
    }

    /** Persist to `dir` ([[graft.sources.IndexStore]] layout).
      * `denormDl = true` (the DEFAULT — serving-optimized: each doc's
      * length rides on its postings rows, so a loaded handle's search
      * needs NO doclen join) vs `false` (write-optimized: doclen is
      * the append commit point — pick it for non-idempotent
      * write-heavy ingest). See [[graft.sources.IndexStore.saveBm25]]
      * for the full trade; [[Graft.rewriteBm25Layout]] migrates a
      * saved store either way in place.
      */
    def save(dir: String, denormDl: Boolean = true): Unit =
      IndexStore.saveBm25(dir, postings, doclen, df, denormDl)
  }

  /** Reopen a [[Bm25Index]] saved with [[Bm25Index.save]] —
    * tombstoned docs anti-join out of postings/doclen; df reflects
    * deletes after the next compact (the documented Lucene
    * semantics). A bucketed store's handle prunes its searches to
    * the query terms' buckets' files; a denormalized store's handle
    * searches without the doclen join; and the handle's (N, avgdl)
    * seed from the store's persisted stats table — pending tombstones
    * included, because [[deleteFromIndex]] folds the stats negatively
    * at delete time (a pre-stats store falls back to the doclen
    * aggregate) — so serving on the default layout reads doclen ZERO
    * times.
    */
  def loadBm25Index(spark: SparkSession, dir: String): Bm25Index = {
    val (postings, doclen, df, nBuckets, seed) =
      IndexStore.loadBm25(spark, dir)
    Bm25Index(postings, doclen, df, nBuckets, seed)
  }

  /** MIGRATE a saved BM25 store between the normalized and
    * denormalized-dl layouts in place — for stores built before e49's
    * measurement settled the serving trade (denormalized: ~half the
    * pruned search read, no doclen join in the plan; the cost is one
    * long per posting row on disk — PARITY's round-13 store_mb cells
    * quantify both sides). Appends after the rewrite follow the new
    * layout automatically (the stored postings schema IS the layout
    * flag). Crash-safe (temp + rename swap), idempotent when already
    * in the target layout, lock-held, epoch-recorded; search results
    * are bit-identical across the rewrite (Bm25IndexSpec proves it,
    * tombstones included).
    */
  def rewriteBm25Layout(spark: SparkSession, dir: String,
                        denormDl: Boolean): Unit =
    IndexStore.rewriteBm25Layout(spark, dir, denormDl)

  /** HYBRID retrieval over the two PERSISTED index halves — e22's
    * reciprocal-rank fusion (Cormack et al. 2009) with the scans
    * replaced by the stores, exactly the deployment e22's scaladoc
    * promises: the lexical ranking comes from a [[Bm25Index]] (one
    * broadcast token join over the postings), the dense ranking from
    * an [[IvfIndex]] (probe-pruned cells), each cut to top-`fetch`
    * per query, fused by Σ 1/(60 + rank) with absent lists
    * contributing 0, top-`k` emitted. Both halves drop a doc whose
    * id equals its query's id (e22's rule: a query document never
    * retrieves itself). `queries`: (query_id Long, text String,
    * embedding Array[Float]). Output: (query_id, rank, doc_id, rrf)
    * sorted. The fusion arithmetic is rational in integer ranks —
    * exact at any scale; the fused lists are ≤ fetch × #queries rows,
    * trivially small. Spec-pinned against hand-fused component
    * searches (Bm25IndexSpec).
    */
  def hybridSearch(lexical: Bm25Index, dense: IvfIndex,
                   queries: DataFrame, k: Int = 5, fetch: Int = 20,
                   probes: Int = 2): DataFrame = {
    val bmTop = lexical
      .rankText(queries.select(col("query_id"), col("text")), fetch,
        k1 = 1.2, b = 0.75, excludeSelf = true)
      .select(col("query_id"), col("did"), col("r_bm25"))
    val cosTop = dense
      .search(queries.select(col("query_id").as("vec_id"),
        col("embedding")), probes, fetch)
      .select(col("query_id"), col("neighbor_id").as("did"),
        col("rank").as("r_cos"))
    Ranking.rrfFuse(bmTop, cosTop, "query_id", k)
  }

  /** A hybrid query: id + event time + the text for the lexical half
    * + the embedding for the dense half.
    */
  final case class HybridQuery(query_id: Long,
                               ts: java.sql.Timestamp,
                               text: String,
                               embedding: Seq[Float])

  /** [[hybridSearch]] SERVED over an unbounded query stream — the
    * retrieval deployment shape: each micro-batch runs the exact
    * batch fusion (BM25 top-`fetch` from the lexical store ⊕ IVF
    * top-`fetch` from the dense store under RRF — shared code, so
    * stream ≡ batch by construction, spec-proven). Cache the two
    * stores' big frames first, as a serving deployment would.
    * `onBatch` receives each batch's (query_id, rank, doc_id, rrf);
    * stop the returned query when done.
    */
  def hybridServe(lexical: Bm25Index, dense: IvfIndex,
                  queries: Dataset[HybridQuery], k: Int = 5,
                  fetch: Int = 20, probes: Int = 2)
                 (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: Dataset[HybridQuery], _: Long) =>
        onBatch(hybridSearch(lexical, dense,
          batch.toDF().select(col("query_id"), col("text"),
            col("embedding").cast("array<float>").as("embedding")),
          k, fetch, probes))
      }
      .start()

  /** GENERATION-AWARE [[hybridServe]] — bound to TWO [[publishIndex]]
    * roots (the lexical BM25 store's and the dense IVF store's)
    * instead of two frozen handles: every micro-batch re-resolves
    * both [[currentIndexGeneration]]s and fuses through the current
    * pair, so retraining EITHER side and publishing flips a live
    * retrieval fleet on its next batch with no restart. Handles
    * reload only when a generation number changes (steady-state
    * batches cost [[hybridServe]] plus two filesystem listings);
    * each batch resolves once, so no batch mixes generations on
    * either side. `onBatch` receives ((lexical gen, dense gen),
    * fused hits).
    */
  def hybridServeCurrent(lexRoot: String, denseRoot: String,
                         queries: Dataset[HybridQuery], k: Int = 5,
                         fetch: Int = 20, probes: Int = 2)
                        (onBatch: ((Int, Int), DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val lexical = new IndexStore.GenerationCache(lexRoot, loadBm25Index)
    val dense = new IndexStore.GenerationCache(denseRoot, loadAnnIndex)
    queries.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: Dataset[HybridQuery], _: Long) =>
        val (lexGen, lex) = lexical.resolve(batch.sparkSession)
        val (denGen, den) = dense.resolve(batch.sparkSession)
        onBatch((lexGen, denGen), hybridSearch(lex, den,
          batch.toDF().select(col("query_id"), col("text"),
            col("embedding").cast("array<float>").as("embedding")),
          k, fetch, probes))
      }
      .start()
  }

  /** GENERATION-AWARE LSH screening — [[LshIndex.screenStream]] bound
    * to a [[publishIndex]] root instead of a frozen handle: every
    * micro-batch re-resolves [[currentIndexGeneration]] and screens
    * against the current one, so retraining the dedup index (new
    * banding, re-thresholded, rebuilt corpus) and publishing flips a
    * live screening fleet on its next batch with no restart. The LSH
    * store is the kind a training-data pipeline retrains most — this
    * is its read half of the blue/green seam ([[serveCurrentAnnIndex]]
    * and [[hybridServeCurrent]] are the dense and fused siblings).
    * The handle (including its band-key Bloom and pruning modulus)
    * reloads only when the generation number changes; each batch
    * resolves once, so no batch mixes generations. `onBatch` receives
    * (generation, verdicts). Note this surface SCREENS only — an
    * ingest loop that also appends survivors should keep writing to a
    * build directory and republish ([[lshIngestStreamDurable]] binds
    * to one fixed store for exactly that reason).
    */
  def lshScreenStreamCurrent(root: String,
                             incoming: Dataset[graft.streaming.DocStreams.Doc],
                             bucketCap: Option[Int] = None)
                            (onBatch: (Int, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val current = new IndexStore.GenerationCache(root, loadLshIndex)
    incoming.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch {
        (batch: Dataset[graft.streaming.DocStreams.Doc], _: Long) =>
          val (gen, idx) = current.resolve(batch.sparkSession)
          onBatch(gen, idx.screen(
            batch.toDF().select(col("doc_id"), col("text")), bucketCap))
      }
      .start()
  }

  /** GENERATION-AWARE media screening — the pHash sibling of
    * [[lshScreenStreamCurrent]]: arriving images decode + hash per
    * micro-batch (the exact gated aHash, pixels never leave the
    * batch's partitions) and screen against the CURRENT generation
    * under a [[publishIndex]] root, so rebuilding the media index
    * and publishing flips a live screening fleet on its next batch
    * with no restart. The handle (pruned bands, band-key Bloom,
    * modulus) reloads only on a generation flip; each batch resolves
    * once — no mixed-generation batch. `onBatch` receives
    * (generation, verdicts (ma, mb, hamming)).
    */
  def phashScreenStreamCurrent(root: String,
                               media: Dataset[graft.streaming.MediaStreams.Media],
                               maxHamming: Int = 4,
                               bucketCap: Option[Long] = None)
                              (onBatch: (Int, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val current = new IndexStore.GenerationCache(root, loadPhashIndex)
    media.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch {
        (batch: Dataset[graft.streaming.MediaStreams.Media], _: Long) =>
          val spark = batch.sparkSession
          import spark.implicits._
          val (gen, idx) = current.resolve(spark)
          val hashed = batch.mapPartitions(_.map { m =>
            val (lo, hi) =
              graft.operators.MultimodalQueries.aHash(m.payload)
            (m.media_id, lo, hi)
          }).toDF("media_id", "lo", "hi")
          onBatch(gen, idx.screen(hashed, maxHamming, bucketCap))
      }
      .start()
  }

  /** The DEDUP-AT-INGEST PIPELINE as one stream — screen ∘ append
    * composed per micro-batch against the saved LSH index at `dir`:
    * each batch (1) screens against the index AS OF that batch (the
    * store reloads per batch, so batch N sees batches 1..N−1's
    * survivors — a near-dup of an EARLIER batch's survivor is
    * caught), (2) durably appends only the batch's non-duplicates
    * (docs with no verdict row), and (3) hands the batch's verdicts
    * to `onVerdicts`. The result: the stored corpus grows first-seen
    * survivors only — the exact loop a training-data pipeline runs at
    * ingest, with the corpus never rescanned or re-signed.
    *
    * Screening is vs the STORED corpus by default: two near-dups
    * arriving in the SAME batch both survive (and an exact redelivery
    * in one batch appends twice) — run
    * [[graft.streaming.EventStreams.dedupWithinWatermark]]-style
    * upstream dedup if batches may carry internal duplicates, or set
    * `dedupWithinBatch` to ALSO cluster each batch internally
    * (Jaccard ≥ 0.5 connected components via the d18 df-capped path —
    * a micro-batch is small, but the cap keeps even a pathological
    * one bounded) and keep only each cluster's min-doc_id
    * representative before the stored screen.
    *
    * Scale shape per batch (round 12): the reloaded handle screens
    * through the store's band-key BLOOM PREFILTER (definitely-novel
    * band keys never touch the stored tables) and, on a bucketed
    * store, probe-time FILE PRUNING (the probe reads only the
    * batch's buckets' files) — so per-batch cost is O(batch work),
    * not O(index size); appends fold the survivors' band keys into
    * the sketch. With a `checkpointDir`
    * the append is idempotent under replay (the checkpoint-scoped
    * marker recipe [[IvfIndex.appendStreamDurable]] documents, same
    * crash-window caveat). LshIndexSpec proves cross-batch survivor
    * visibility, first-seen semantics, within-batch clustering, and
    * marked-batch skip.
    */
  def lshIngestStreamDurable(dir: String,
                             incoming: Dataset[graft.streaming.DocStreams.Doc],
                             checkpointDir: Option[String] = None,
                             bucketCap: Option[Int] = None,
                             dedupWithinBatch: Boolean = false,
                             withinBatchMaxDocFreq: Int = 1000)
                            (onVerdicts: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = incoming.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch {
        (batch: Dataset[graft.streaming.DocStreams.Doc], batchId: Long) =>
          val spark = batch.sparkSession
          def process(): Unit = {
            val cur = loadLshIndex(spark, dir)
            val raw = batch.toDF().select(col("doc_id"), col("text"))
            val docs =
              if (!dedupWithinBatch) raw
              else {
                // batch-local first-seen: cluster the batch's own
                // near-dups and keep each cluster's min-id member
                val labels = DedupQueries
                  .clusterLabelsOfCapped(raw, withinBatchMaxDocFreq)
                  .filter(col("doc_id") =!= col("canonical_id"))
                  .select(col("doc_id"))
                raw.join(broadcast(labels), Seq("doc_id"), "left_anti")
              }
            // materialize the verdicts BEFORE the append mutates the
            // directory the screen plan reads (eager localCheckpoint)
            val verdicts = cur.screen(docs, bucketCap).localCheckpoint()
            val survivors = docs.join(
              verdicts.select(col("doc_id")).distinct(),
              Seq("doc_id"), "left_anti")
            if (!survivors.isEmpty) {
              val sigsNew =
                DedupQueries.lshSignatures(survivors, cur.numHashes)
              IndexStore.appendLsh(dir, sigsNew,
                DedupQueries.lshBandRows(sigsNew, cur.rowsPerBand,
                  cur.numHashes))
            }
            onVerdicts(verdicts)
          }
          checkpointDir match {
            case None => process()
            case Some(cp) =>
              val marker = new org.apache.hadoop.fs.Path(
                s"$cp/_graft_commits/batch-$batchId")
              val fs = marker.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              if (!fs.exists(marker)) {
                process()
                fs.create(marker, true).close()
              }
              // retention: markers older than the redelivery window
              // are dead weight — sweep to the newest K (see
              // EmbStreams.sweepMarkers)
              graft.streaming.EmbStreams.sweepMarkers(spark, cp, batchId)
          }
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** SEMANTIC cross-corpus decontamination — [[decontaminate]]'s
    * embedding-space sibling: flag training vectors whose cosine
    * against ANY benchmark vector reaches `threshold` (a paraphrased
    * benchmark slips past shingle Jaccard; it does not slip past its
    * own embedding). The benchmark side is tiny and broadcast; the
    * training corpus streams through one linear pass.
    *
    * Inputs: two (vec_id Long, embedding Array[Float]) frames; `bench`
    * must be the small side. Output: (train_id, bench_id, cos),
    * unsorted. Gate: `d17_semantic_decontamination`.
    */
  def semanticDecontaminate(train: DataFrame, bench: DataFrame,
                            threshold: Double = 0.35): DataFrame =
    DedupQueries.semanticDecontScreen(train, bench, threshold)

  // ------------------------------------------------------------------
  // Quality / text analysis
  // ------------------------------------------------------------------

  /** Deterministic per-source MIXTURE SAMPLING — turn per-domain
    * weights into an actual training mixture: keep each document iff
    * its md5-derived uniform hash over (doc_id, `salt`) falls under
    * its source's rate (truncated to ppm). Per-row independent and
    * SEED-STABLE — the same (doc, salt) keeps or drops identically on
    * every run, engine, and partitioning, so mixtures are
    * reproducible and resumable; different salts draw independent
    * resamples. Zero shuffles: the rate table broadcasts, the corpus
    * streams through one linear pass. Sources absent from `rates`
    * drop entirely.
    *
    * Input: docs with (doc_id Long, `sourceCol` String). Output: the
    * sampled rows, all input columns. Gate: `t27_mixture_sample`.
    */
  def sampleMixture(docs: DataFrame, rates: Map[String, Double],
                    salt: Long = 0L,
                    sourceCol: String = "source"): DataFrame =
    TextAnalysisQueries.sampleMixtureOf(docs, rates, salt, sourceCol)

  /** Deterministic greedy packing of documents into fixed-`budget`
    * token training sequences: global running token offset via
    * per-partition prefix sums + broadcast partition offsets (no
    * single-partition sort), then sequence id = offset / budget.
    * Returns the per-sequence manifest.
    *
    * Input: (doc_id Long, text String). Output: (seq_id, n_docs,
    * n_tokens, first_doc, last_doc), unsorted.
    * Gate: `t11_sequence_packing`.
    */
  def packSequences(docs: DataFrame, budget: Int = 2048): DataFrame =
    TextAnalysisQueries.packSequencesOf(docs, budget)

  /** Overlapping fixed-size token chunks — the retrieval/RAG indexing
    * primitive ([[packSequences]]'s sibling: that packs documents INTO
    * sequences; this splits documents into windows). Starts stride by
    * `chunkSize - overlap`, every token covered, last chunk may be
    * short. Pure per-row explode — zero shuffle at any corpus size.
    *
    * Input: (doc_id Long, text String). Output: (doc_id, chunk_idx,
    * start_tok, n_chunk_tokens, chunk_md5), unsorted. Gate:
    * `t26_doc_chunks`.
    */
  def chunkDocuments(docs: DataFrame, chunkSize: Int = 64,
                     overlap: Int = 16): DataFrame =
    TextAnalysisQueries.chunkDocumentsOf(docs, chunkSize, overlap)

  /** Per-document token statistics (token/distinct/char counts) — the
    * cheapest corpus profile. Input: (doc_id, text). Output: (doc_id,
    * n_tokens, n_distinct, n_chars), unsorted. Gate: `t01_token_stats`.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    TextAnalysisQueries.tokenStatsOf(docs)

  /** Heuristic quality scoring: mean token length, repetition ratio,
    * and the 0.2/0.8 composite — the cheap pre-training filter signals.
    * Input: (doc_id, text). Output: (doc_id, mean_token_len,
    * repetition, quality), unsorted. Gate: `t02_quality_score`.
    */
  def heuristicQuality(docs: DataFrame): DataFrame =
    TextAnalysisQueries.heuristicQualityOf(docs)

  /** Language ID by stopword-profile hit ratio, argmax over candidate
    * languages (one explode + broadcast profile join — no per-language
    * scans). Pass real per-language stopword `profiles` in production;
    * the default is the gate's test-corpus profile set.
    * Input: (doc_id, text). Output: (doc_id, predicted_lang, score),
    * unsorted. Gate: `t03_langid`.
    */
  def languageId(docs: DataFrame,
                 profiles: Seq[(String, Seq[String])] =
                   TextAnalysisQueries.defaultLangProfiles): DataFrame =
    TextAnalysisQueries.langIdOf(docs, profiles)

  /** The composite C4-style quality filter: length, mean-token-length,
    * symbol-ratio, stopword, and top-unigram-repetition rules, emitted
    * as a rule bitmask + the conjunctive keep decision. One linear
    * pass, no shuffle. Input: (doc_id, text). Output: (doc_id,
    * rule_mask, keep), unsorted. Gate: `t15_c4_filter`.
    */
  def c4Filter(docs: DataFrame): DataFrame =
    TextAnalysisQueries.c4FilterOf(docs)

  /** Deterministic stratified 80/10/10 train/val/test assignment by
    * md5(doc_id) bucket — leakage-free (hash ignores features),
    * re-run-stable, stratified per source by construction. Returns the
    * input with a `split` column. Gate: `t16_stratified_split`
    * (aggregates this assignment into its contingency table).
    */
  def assignSplits(docs: DataFrame): DataFrame =
    TextAnalysisQueries.splitAssigned(docs)

  /** Hashed linear quality-classifier inference (the fastText deployment
    * shape): per-token hash bucket → broadcast weight, sigmoid of the
    * mean, keep at p ≥ 0.5. One token pass, no shuffle beyond the
    * per-doc agg.
    *
    * Input: (doc_id Long, text String). Output: (doc_id, n_tokens,
    * quality_prob, keep), unsorted. Gate: `t21_quality_classifier`.
    */
  def qualityClassify(docs: DataFrame): DataFrame =
    TextAnalysisQueries.classifierScores(docs)

  /** Exact quality-decile binning (ntile over the composite quality
    * score). NOTE: the exact form carries a single-partition global
    * sort by construction — at 100 TB use the approx-boundary variant
    * ([[graft.operators.TextAnalysisQueries.qualityBinsApprox]]), which
    * broadcasts 9 quantile boundaries and bins in a pure projection.
    *
    * Input: (doc_id Long, text String). Output: (decile, n_docs,
    * n_tokens, q_min, q_max) sorted by decile. Gate: `t23_quality_bins`.
    */
  def qualityBins(docs: DataFrame): DataFrame =
    TextAnalysisQueries.qualityBinsOf(docs)

  /** Per-source distinct-token cardinality via a KMV bottom-k sketch —
    * 512 bytes per source, mergeable, bounded-heap bottom-k (the
    * TopKPerKey operator). A source with fewer than k distinct hashes
    * reports its exact count (the sketch isn't full, so its size IS the
    * cardinality).
    *
    * Input: (source String, text String). Output: (source, n_in_sketch,
    * kth_min, kmv_estimate), unsorted. Gate: `t24_distinct_kmv` (which
    * additionally verifies the estimate against the exact count).
    */
  def distinctTokenSketch(docs: DataFrame, k: Int = 64): DataFrame =
    TextAnalysisQueries.distinctTokenSketchOf(docs, k)

  // ------------------------------------------------------------------
  // Similarity search
  // ------------------------------------------------------------------

  /** Exact brute-force cosine top-k: one broadcast of the query batch,
    * one pass over the corpus, no corpus shuffle. Self-matches (equal
    * ids) are excluded.
    *
    * Inputs: corpus and queries both (vec_id Long, embedding
    * Array[Float]). Output: (query_id, rank, neighbor_id, cos) sorted.
    * Gate: `e01_knn_bruteforce`.
    */
  def knn(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame =
    SimilarityQueries.knnOf(corpus,
      queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb")), k)

  /** Maximal-Marginal-Relevance diversified re-rank: fetch each query's
    * top-`fetch` by exact cosine, then greedily pick `k` results, each
    * maximizing `relWeight·relevance − divWeight·max(sim to picked)` —
    * the redundancy-penalized re-rank a RAG stack runs after retrieval.
    * The corpus is scanned exactly twice; the greedy loop operates on
    * fetch×#queries rows. Pass both weights explicitly (deriving
    * `1 − λ` in code gives 0.30000000000000004-style drift).
    *
    * EXECUTES EAGERLY: the shortlist (fetch × #queries rows, fenced by
    * `spark.graft.maxMmrDriverRows`, default 500k) and its embeddings
    * are collected and the greedy selection runs on the DRIVER at call
    * time — two jobs run before this method returns, errors surface
    * here, and the returned frame is a SNAPSHOT of the inputs as of
    * the call (not re-derived on later actions).
    *
    * Inputs: corpus and queries both (vec_id Long, embedding
    * Array[Float]). Output: (query_id, pick 1..k, cand_id, mmr_score),
    * unsorted. Gate: `e23_mmr_rerank`.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                fetch: Int = 10, relWeight: Double = 0.7,
                divWeight: Double = 0.3): DataFrame =
    SimilarityQueries.mmrRerankOf(corpus, queries, k, fetch,
      relWeight, divWeight)

  /** Build the servable IVF index: label-trained centroids (tiny,
    * broadcast) + the cell-assigned corpus. Cache
    * [[IvfIndex.assigned]] if you will issue repeated searches.
    *
    * TRAINS EAGERLY (round 17): the centroid aggregate is pulled
    * driver-side ONCE here (one bounded job, ≤ #cells × 64 floats —
    * the pattern e06/[[ivfPqIndex]] already use), so `assigned` and
    * every later [[IvfIndex.append]]/probe is a PURE PROJECTION over
    * centroid literals instead of a corpus × #cells broadcast join
    * feeding a per-vec_id window shuffle — at 100 TB the assignment
    * pass moves zero bytes between executors.
    *
    * Input: (vec_id Long, embedding Array[Float], label Int).
    * Gate: `e05_ann_ivf` (routes through [[IvfIndex.search]]).
    */
  def annIndex(corpus: DataFrame): IvfIndex = {
    val pulled = SimilarityQueries.pullCentroids(
      SimilarityQueries.labelCentroids(corpus))
    IvfIndex(SimilarityQueries.assignCellsPulled(corpus, pulled),
      () => pulled)
  }

  /** A built IVF index: `assigned` = (vec_id, embedding, cell) corpus
    * plus ONE centroid snapshot — the (cell, centroid) tuple pulled
    * driver-side at most once per handle (bounded: ≤ #cells × 64
    * floats) by `pull`, on first use. [[annIndex]] hands over the
    * tuple it trained; [[loadAnnIndex]] pulls the saved table lazily,
    * so opening a store runs no job. Every assignment, probe, drift
    * report, stream, save and shard of the handle uses this snapshot,
    * and [[centroids]] reads it back as a frame.
    */
  final case class IvfIndex private[api] (
      assigned: DataFrame,
      private[api] val pull: () => Seq[(Int, Array[Float])]) {
    private[api] lazy val pulled: Seq[(Int, Array[Float])] = pull()

    /** The (cell, centroid) table of this handle's snapshot. */
    def centroids: DataFrame =
      SimilarityQueries.centroidsLocal(assigned.sparkSession, pulled)

    /** Probe the `probes` nearest cells per query, exact-cosine rank
      * within them, top-`k` per query. Queries: (vec_id, embedding).
      * Output: (query_id, rank, neighbor_id, cos) sorted.
      */
    def search(queries: DataFrame, probes: Int = 2, k: Int = 3): DataFrame =
      searchIn(assigned, queries, probes, k)

    /** Append NEW vectors WITHOUT retraining: the trained centroids are
      * immutable; arrivals are assigned into the existing cells in one
      * broadcast pass and unioned with the stored corpus — the
      * index-freshness operation a production vector store runs between
      * periodic re-trains. Appended vectors land in their honest
      * nearest trained cell, so search correctness never degrades; only
      * cell balance drifts as the live distribution departs the
      * training snapshot. `newVecs`: (vec_id, embedding). The stored
      * corpus is never rescanned. Gate: `e26_ivf_append`; streaming
      * analogue: [[graft.streaming.EmbStreams.ivfAppend]].
      */
    def append(newVecs: DataFrame): IvfIndex =
      IvfIndex(assigned.unionByName(
        SimilarityQueries.assignCellsPulled(newVecs, pulled)), () => pulled)

    /** [[append]] made DURABLE: assign the arrivals with this handle's
      * (frozen) centroids — the exact gated kernel — and write them
      * INTO the saved layout at `dir` (parquet append; files land only
      * in the touched cells' directories, the stored corpus is never
      * rewritten), then reopen the store. `dir` must hold the index
      * this handle was saved to / loaded from (kind-checked; a
      * mismatched centroid set would mis-cell the arrivals — the same
      * contract as re-saving after [[append]], minus rewriting the
      * corpus). A JVM restart between the append and the next load
      * changes nothing: the returned handle and a freshly loaded one
      * read the same files. Gate: `e33_durable_append` (the PQ
      * family's seam; IndexStoreSpec covers all three).
      */
    def appendDurable(dir: String, newVecs: DataFrame): IvfIndex = {
      IndexStore.appendIvf(dir,
        SimilarityQueries.assignCellsPulled(newVecs, pulled))
      loadAnnIndex(newVecs.sparkSession, dir)
    }

    /** Export a SHARD: assign `vecs` with this handle's frozen
      * centroids (the exact gated [[append]] kernel) and save them as
      * a self-contained index directory — the map step of a PARALLEL
      * index build. Train once, run N shard jobs over disjoint corpus
      * slices (each writes its own directory: no write contention, no
      * coordination), then fold them into the serving directory with
      * [[mergeIndex]] — which moves files by rename, never reading a
      * data byte, and value-checks the artifacts so a shard from a
      * DIFFERENT training run is refused. Gate: `e36_shard_merge`.
      */
    def shard(dir: String, vecs: DataFrame): Unit =
      IndexStore.saveIvf(dir,
        SimilarityQueries.assignCellsPulled(vecs, pulled), centroids)

    /** Cell-occupancy drift report — the RE-TRAIN TRIGGER [[append]]'s
      * doc points at: assign a non-empty arrival `sample` (vec_id,
      * embedding) to the trained centroids and compare per-cell
      * occupancy shares against the stored corpus. All-integer output
      * (counts + parts-per-million shares): one row per cell — (cell,
      * n_base, n_new, ppm_base, ppm_new, drift_ppm); Σ drift_ppm / 2
      * is the total-variation distance in ppm, and the per-cell rows
      * name WHICH cells drifted. A sample drawn from the indexed
      * distribution reports ~0 everywhere; re-train when the drift (or
      * a single hot cell's share) crosses your probe-latency budget.
      * Gate: `e28_index_drift`.
      */
    def drift(sample: DataFrame): DataFrame =
      SimilarityQueries.cellDrift(assigned, pulled, sample)

    /** DRIFT-TRIGGERED RETRAIN — closes the monitor → action loop the
      * drift reports (e28/e31/e32/e34) point at: compute [[drift]] of
      * the `arrivals` sample and, when the total-variation distance
      * (Σ drift_ppm / 2) exceeds `maxDriftPpm`, retrain the coarse
      * centroids ON STORED ∪ ARRIVALS and re-cell everything,
      * returning a NEW handle; at or below the threshold, return
      * `this` unchanged — a byte-identical no-op (same object), so a
      * scheduled `retrainIf` costs only the drift report until drift
      * actually crosses budget.
      *
      * The retrain is one WARM-STARTED Lloyd step from the serving
      * state: every stored row keeps the cell it serves from, the
      * arrivals take their honest nearest cell under the current
      * centroids (the exact [[append]] kernel), and that union —
      * labels := serving cells — feeds the same [[annIndex]] training
      * a fresh build runs (per-cell float-cast means, then re-assign
      * all rows to the new centroids). Gate: `e47_ivf_retrain` (the
      * whole retrain replayed by the oracle); a negative threshold
      * forces the retrain (the scheduled-rebuild shape).
      *
      * At 100 TB: the drift report is two map-side-combinable counts;
      * a triggered retrain is one mean-agg over the union plus one
      * broadcast re-assignment pass — the same cost as the original
      * build, paid only when the report says the cells went stale.
      * `arrivals`: (vec_id, embedding), non-empty.
      */
    def retrainIf(arrivals: DataFrame, maxDriftPpm: Long): IvfIndex = {
      val tv = totalVariationPpm(drift(arrivals))
      if (tv <= maxDriftPpm) this
      else {
        val relabeled = assigned
          .select(col("vec_id"), col("embedding"), col("cell"))
          .unionByName(
            SimilarityQueries.assignCellsPulled(arrivals, pulled))
          .withColumnRenamed("cell", "label")
        annIndex(relabeled)
      }
    }

    /** DELETE vectors from the LIVE handle — [[deleteFromIndex]]'s
      * in-memory sibling: the rows anti-join out of the assigned
      * corpus (broadcast — the delete set is small by contract), the
      * trained centroids stay frozen, and search/serve over the
      * returned handle can never surface a deleted vector. Durable
      * stores delete via [[deleteFromIndex]] + reload instead.
      * `ids`: any frame with a `vec_id` column.
      */
    def delete(ids: DataFrame): IvfIndex =
      IvfIndex(assigned.join(
        broadcast(ids.select(col("vec_id"))), Seq("vec_id"), "left_anti"),
        () => pulled)

    /** FILTERED search — ANN with a metadata predicate ("nearest
      * neighbors WHERE ..."): the index stays as built; `keepIds`
      * (a frame with a `vec_id` column — e.g. doc ids passing a
      * metadata filter) restricts candidates via a semi-join BEFORE
      * in-cell ranking. Queries pay the same probe scan over fewer
      * candidates; fewer than k survivors yields fewer than k rows.
      * At scale broadcast the keep-set (or pre-join a boolean column
      * onto `assigned` for a hot predicate).
      * Gate: `e24_filtered_ivf`.
      */
    def searchWhere(queries: DataFrame, keepIds: DataFrame,
                    probes: Int = 2, k: Int = 3): DataFrame = {
      searchIn(assigned.join(
        keepIds.select(col("vec_id")), Seq("vec_id"), "left_semi"),
        queries, probes, k)
    }

    private def searchIn(corpus: DataFrame, queries: DataFrame,
                         probes: Int, k: Int): DataFrame =
      SimilarityQueries.probeAndRank(corpus,
        SimilarityQueries.probeCells(queries.select(
          col("vec_id").as("query_id"), col("embedding").as("q_emb")),
          pulled, probes), k)

    /** Persist to `dir` ([[graft.sources.IndexStore]] layout): the
      * assigned corpus lands PARTITIONED BY cell — the exact hive
      * layout [[graft.streaming.EmbStreams.ivfServePruned]] prunes at
      * the file level, so a saved index is directly servable — plus
      * the tiny centroid table and a kind-checked manifest. Re-saving
      * (e.g. after [[append]]) overwrites in place — the refresh
      * cycle a production store runs between re-trains.
      */
    def save(dir: String): Unit =
      IndexStore.saveIvf(dir, assigned, centroids)

    /** Serve an unbounded query stream against this index — delegates
      * to [[graft.streaming.EmbStreams.ivfServe]] with the handle's
      * own frames, so streaming serving no longer requires
      * disassembling the handle into (assigned, centroids). Cache
      * [[assigned]] first, as a real serving deployment would.
      * Stream ≡ batch [[search]] is spec-proven (EmbStreamsSpec).
      */
    def serve(queries: Dataset[EmbStreams.EmbQuery], nprobe: Int = 2,
              k: Int = 3): Dataset[EmbStreams.AnnHit] =
      EmbStreams.ivfServe(queries, assigned, pulled, nprobe, k)

    /** Partition-pruned serving against a SAVED copy of this index:
      * `corpusDir` is the cell-partitioned assigned table —
      * `s"$dir/assigned"` after [[save]]`(dir)` — and each
      * micro-batch reads only the probed cells' files
      * ([[graft.streaming.EmbStreams.ivfServePruned]] — the 100 TB
      * I/O shape). The returned query is started; stop it when done.
      */
    def servePruned(queries: Dataset[EmbStreams.EmbQuery],
                    corpusDir: String, nprobe: Int = 2, k: Int = 3)
                   (onBatch: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.ivfServePruned(queries, corpusDir, pulled, nprobe, k)(
        onBatch)

    /** [[servePruned]] against the WHOLE saved store at `storeDir` —
      * tombstone-aware: reads the cell-partitioned table at
      * `storeDir/assigned` with per-batch file-level pruning AND
      * anti-joins the store's live tombstone set ([[deleteFromIndex]])
      * out of every scanned batch, so pruned serving never surfaces a
      * deleted vector even BEFORE the next [[compactIndex]] applies
      * the tombstones (the [[servePruned]] raw-path caveat, closed).
      * The tombstone ids are COLLECTED once at query start (small by
      * the delete contract) into a local snapshot, so a concurrent
      * [[compactIndex]] that applies-and-clears the tombstone files
      * mid-stream cannot fail later micro-batches — the snapshot
      * semantics hold regardless of store maintenance. Stop and
      * restart the stream to pick up later deletes, exactly like
      * re-opening a handle.
      */
    def servePrunedStore(queries: Dataset[EmbStreams.EmbQuery],
                         storeDir: String, nprobe: Int = 2, k: Int = 3)
                        (onBatch: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery = {
      val spark = assigned.sparkSession
      // eager snapshot: a LocalRelation of the tombstone ids — immune
      // to the tombstones/ dir being deleted by a concurrent compact;
      // FENCED against spark.graft.maxTombstoneSnapshot (an
      // uncompacted delete-heavy store fails at a named boundary
      // pointing at compactIndex, not as a driver OOM)
      val snapshot = IndexStore.tombstoneSnapshot(spark, storeDir)
      EmbStreams.ivfServePruned(queries, s"$storeDir/assigned",
        pulled, nprobe, k, snapshot)(onBatch)
    }

    /** AT-INGEST append — [[append]]'s streaming sibling through the
      * handle: each micro-batch of arrivals is assigned into the
      * trained (immutable) cells with the gated kernel and handed to
      * `onBatch` for upsert into the serving store. Delegates to
      * [[graft.streaming.EmbStreams.ivfAppend]].
      */
    def appendStream(arrivals: Dataset[EmbStreams.EmbArrival])
                    (onBatch: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.ivfAppend(arrivals, pulled)(onBatch)

    /** [[appendStream]] writing INTO the saved layout at `dir` —
      * streaming ingest made durable: each micro-batch appends under
      * the store's single-writer lock, and with a `checkpointDir` a
      * redelivered batch is skipped via a per-batch-id marker (the
      * foreachBatch idempotency recipe). A restarted JVM's
      * [[loadAnnIndex]] serves everything ingested so far. Delegates
      * to [[graft.streaming.EmbStreams.ivfAppendDurable]];
      * IndexStoreSpec proves streamed ≡ batch [[appendDurable]] and
      * that a marked batch id is not re-appended.
      */
    def appendStreamDurable(arrivals: Dataset[EmbStreams.EmbArrival],
                            dir: String,
                            checkpointDir: Option[String] = None)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.ivfAppendDurable(arrivals, pulled, dir, checkpointDir)

    /** AT-INGEST drift monitor — [[drift]]'s streaming sibling
      * through the handle: running per-cell arrival counts as
      * streaming state, a full e28-shaped report per trigger against
      * this index's stored base. Pass `checkpointDir` to make the
      * monitor RESTARTABLE: the running counts live in Spark's state
      * store under the checkpoint, so a restarted monitor resumes
      * them without reprocessing committed arrivals (spec-proven).
      * Delegates to [[graft.streaming.EmbStreams.driftMonitor]].
      */
    def driftMonitor(arrivals: Dataset[EmbStreams.EmbArrival],
                     checkpointDir: Option[String] = None)
                    (onReport: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.driftMonitor(arrivals, assigned, pulled, checkpointDir)(
        onReport)

    /** [[driftMonitor]] over a SLIDING EVENT-TIME WINDOW — the
      * production trigger watches recent drift, not all-of-history
      * (cumulative counts converge and drown a drifted last hour).
      * One e28-shaped report per touched window per trigger; the
      * watermark evicts closed windows' state and drops late
      * arrivals. Delegates to
      * [[graft.streaming.EmbStreams.driftMonitorWindowed]].
      */
    def driftMonitorWindowed(arrivals: Dataset[EmbStreams.EmbArrival],
                             windowMinutes: Int = 10,
                             slideMinutes: Int = 10,
                             latenessMinutes: Int = 0,
                             checkpointDir: Option[String] = None)
                            (onReport: (java.sql.Timestamp,
                               java.sql.Timestamp, DataFrame) => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.driftMonitorWindowed(arrivals, assigned,
        pulled, windowMinutes, slideMinutes, latenessMinutes,
        checkpointDir)(onReport)
  }

  /** Reopen an [[IvfIndex]] saved with [[IvfIndex.save]]: no
    * re-training, no corpus scan — the handle's frames read the saved
    * parquet lazily, and search/append/drift run the SAME gated code
    * paths as on a freshly built index (IndexStoreSpec proves
    * save → load → search ≡ fresh-build → search bit-for-bit, and
    * that the e26 append contract holds on a loaded index).
    */
  def loadAnnIndex(spark: SparkSession, dir: String): IvfIndex = {
    val (assigned, centroids) = IndexStore.loadIvf(spark, dir)
    IvfIndex(assigned, () => SimilarityQueries.pullCentroids(centroids))
  }

  /** Compact a saved index directory (any kind) — the maintenance op
    * after many small [[IvfIndex.appendDurable]]-style batches: each
    * big table is rewritten (one file per cell for the partitioned
    * families) through a temp dir and swapped in by rename; results
    * are bit-identical and handles opened after the compact read the
    * same rows from far fewer files. See
    * [[graft.sources.IndexStore.compact]] for the crash-safety
    * contract.
    */
  def compactIndex(spark: SparkSession, dir: String): Unit =
    IndexStore.compact(spark, dir)

  /** DELETE vectors from a saved index (any vector kind) — the
    * lifecycle's REMOVE path (takedowns, TTL expiry,
    * dedup-after-ingest): `ids` (any frame with a `vec_id` column)
    * append into a small `tombstones/` side table — the stored rows
    * are never touched — and every subsequent load anti-joins them
    * out (a BROADCAST anti-join: tombstones stay tiny until the next
    * [[compactIndex]], which rewrites the big tables without the
    * deleted rows and clears the tombstones — the log-structured
    * delete). Records a `delete` epoch. Bloom sketches are refused
    * (entries share bits; removal means rebuild).
    *
    * Semantics: a tombstone wins over ANY row with that vec_id —
    * including rows appended after the delete — until a compact
    * clears it; re-ingest a deleted id only after compacting.
    * Caveat: [[IvfIndex.servePruned]] reads the assigned table by
    * RAW PATH (not through a loaded handle) and so still sees
    * tombstoned rows — use [[IvfIndex.servePrunedStore]] (which
    * anti-joins the store's tombstones after the partition filter),
    * or compact first.
    * Gates: `e45_index_delete` (tombstone-masked search) /
    * `e46_delete_compact` (compaction applies + clears them).
    */
  def deleteFromIndex(spark: SparkSession, dir: String,
                      ids: DataFrame): Unit =
    IndexStore.delete(spark, dir, ids)

  /** The saved index's append-epoch AUDIT LOG, ordered: one (seq, op,
    * n_rows, ts_millis) row per lifecycle op that touched `dir` —
    * `save` and `compact` record the primary table's on-disk total,
    * `append` the on-disk DELTA, `vacuum` the orphan dirs removed.
    * Row counts come from the written parquet footers (metadata-speed
    * at any scale), so the log records what actually landed — the
    * operational answer to "who grew this index and by how much".
    * Gate: `e35_index_epochs` (the deterministic (seq, op, n_rows)
    * projection vs counts DuckDB derives from the source table).
    */
  def indexEpochs(spark: SparkSession, dir: String): DataFrame =
    IndexStore.epochs(spark, dir)

  /** Introspect a saved index directory (any kind): one row per
    * stored table — (kind, version, table, n_rows, n_files, bytes,
    * holder, heartbeat_age_ms, stale_suspect). Many files per row is
    * the [[compactIndex]] signal; row counts are footer-metadata
    * reads, never column scans. A LOCKED store adds one
    * `_write_lock` row: live writers heartbeat the lock's mtime, so
    * `stale_suspect = true` (no beat for
    * `spark.graft.lockStaleAfterMs`, default 60 s) flags a presumed-
    * crashed holder — confirm via the named pid@host, then
    * [[breakIndexLock]]. See [[indexLockInfo]] for the lock alone.
    * `deep = true` adds READ-ONLY integrity rows — every invariant
    * [[repairIndex]] heals is observable here first, per kind: bm25
    * `_orphan_postings_ids` / `_corpus_stats_stale` /
    * `_df_fold_intent_pending`; lsh/phash
    * `_band_coverage_inconsistent_ids` / `_duplicate_primary_ids`;
    * pq `_codes_missing_ids` / `_duplicate_corpus_ids` /
    * `_duplicate_codes_ids`; ivfpq `_duplicate_codes_ids` — at the
    * cost of id-column aggregates (an operator can fsck a fleet
    * uniformly without mutating a byte; see ARCHITECTURE's
    * kind → checks → heals table).
    */
  def describeIndex(spark: SparkSession, dir: String,
                    deep: Boolean = false): DataFrame =
    IndexStore.describe(spark, dir, deep)

  /** FSCK + heal a saved index directory — the crashed-append
    * recovery recipes as ONE operation: runs [[vacuumIndex]]'s
    * restore/debris sweep, and on a bm25 store additionally
    * (1) completes an interrupted partial df fold (pending
    * `df.fold.intent` ⇒ df recomputes from the postings),
    * (2) removes orphaned postings rows (vec_ids with no doclen row —
    * the partial landing of an append that crashed before its
    * commit point; on the denormalized layout those rows are
    * silently scoreable until healed), recomputing df afterwards, and
    * (3) revalidates the persisted corpus stats against the MASKED
    * doclen aggregate. On an lsh/phash store it checks per-document
    * band coverage (a crash between the primary and band appends
    * strands documents that silently stop being screen candidates)
    * and rebuilds the band table + key sketch from the primary,
    * deduping a replayed primary first. On a pq store it re-encodes
    * corpus rows stranded without code rows (the corpus-first append
    * ordering's crash window — inert vectors that silently vanish
    * from every ADC shortlist) from the frozen codebooks; on pq and
    * ivfpq it dedups duplicate ids a `requireNewIds = false`
    * producer's blind retry can leave.
    * Returns one (issue, n, action) row per finding —
    * empty on a healthy store; records a `repair` epoch when
    * anything was healed. Safe to run any time; after it, a clean
    * re-append of the crashed batch passes the default
    * `requireNewIds` check.
    */
  def repairIndex(spark: SparkSession, dir: String): DataFrame =
    IndexStore.repair(spark, dir)

  /** The store's write lock, observed — (holder pid@host + acquire
    * millis, heartbeat age millis, stale suspect); None when
    * unlocked. The detection half of the lock-lease story: a crashed
    * holder stops heartbeating and goes stale within one interval; a
    * slow-but-alive writer never does. Detection only — breaking the
    * lock stays the operator's explicit [[breakIndexLock]] call.
    */
  def indexLockInfo(spark: SparkSession, dir: String)
      : Option[(String, Long, Boolean)] =
    IndexStore.lockInfo(spark, dir)

  /** Clear the debris a crashed rewrite can leave behind (`.compact`
    * temp dirs, `.old` aside dirs) — after a RESTORE pass that renames
    * an aside or temp copy back into place when the live table is
    * missing, so vacuum can never delete the sole copy of a table
    * stranded mid-swap. Returns the number of dirs removed or
    * restored; records a `vacuum` epoch when > 0.
    */
  def vacuumIndex(spark: SparkSession, dir: String): Int =
    IndexStore.vacuum(spark, dir)

  /** Fold a shard index directory into `dstDir` — the reduce step of
    * a PARALLEL index build (train once → N independent
    * [[IvfIndex.shard]]/[[PqIndex.shard]]/[[IvfPqIndex.shard]] jobs
    * over disjoint corpus slices, each writing its own directory → N
    * merges into the serving directory). The data tables move by
    * FILESYSTEM RENAME (per cell directory for the partitioned
    * families) — metadata-speed at any corpus size; the frozen
    * artifacts are compared VALUE-BY-VALUE first, so a shard from a
    * different training run fails loudly instead of silently
    * mis-celling half the corpus. Bloom directories union by bit_or
    * (mergeable-sketch semantics). Records a `merge` epoch; the
    * consumed shard directory is deleted. Gate: `e36_shard_merge`.
    */
  def mergeIndex(spark: SparkSession, dstDir: String, srcDir: String): Unit =
    IndexStore.merge(spark, dstDir, srcDir)

  /** Clear a stale `.write.lock` left in a saved index directory by a
    * CRASHED writer. Every mutating store op (save / appendDurable /
    * compact / merge / vacuum) holds this single-writer lock — the
    * store's append, epoch-seq, and compact-swap protocols all assume
    * one writer, so a concurrent mutator fails loudly with the
    * holder's pid@host instead of silently interleaving files. Only
    * break the lock when that holder is known dead. Returns true if a
    * lock was removed.
    */
  def breakIndexLock(spark: SparkSession, dir: String): Boolean =
    IndexStore.breakLock(spark, dir)

  /** PUBLISH a built index directory as the next GENERATION under
    * `root` — the blue/green retrain-publish seam (ROADMAP #4,
    * closed): [[IvfIndex.retrainIf]] (or any build) produces a live
    * handle, `save(buildDir)` freezes it, and publish renames it to
    * `root/g-<n>/` and stamps a `_PUBLISHED` marker — one rename +
    * one marker create, so the flip is atomic from every reader's
    * point of view: a serving fleet resolves [[currentIndexGeneration]]
    * at handle-open and picks up the retrained index on its next
    * open, while handles already serving the old generation keep
    * reading their (never-mutated) directory — no reader can observe
    * a mixed generation. A crash between rename and marker leaves a
    * complete-but-invisible generation; re-publishing the same
    * `root/g-<n>` path just stamps the marker. Returns the
    * generation number. Spec: IndexStoreSpec's blue/green cases.
    */
  def publishIndex(spark: SparkSession, root: String,
                   buildDir: String): Int =
    IndexStore.publishGeneration(spark, root, buildDir)

  /** The current (highest published) generation under a
    * [[publishIndex]] root — (generation, directory); None before the
    * first publish. Load it with the kind's loader
    * ([[loadAnnIndex]] / [[loadBm25Index]] / [[loadLshIndex]] / …) —
    * or [[loadCurrentAnnIndex]] for the IVF family.
    */
  def currentIndexGeneration(spark: SparkSession, root: String)
      : Option[(Int, String)] =
    IndexStore.currentGeneration(spark, root)

  /** Resolve the CURRENT generation under a [[publishIndex]] root and
    * open it with `loader` — the kind-generic form every
    * `loadCurrent*` convenience derives from, and the one to reach
    * for when the kind's loader takes extra arguments. Fails loudly
    * if nothing is published.
    */
  def loadCurrent[T](spark: SparkSession, root: String)
                    (loader: String => T): T =
    loader(IndexStore.requireCurrentGeneration(spark, root)._2)

  /** [[loadAnnIndex]] of the CURRENT generation under a
    * [[publishIndex]] root — fails loudly if nothing is published.
    * Every store kind has the same convenience: the blue/green root
    * is kind-agnostic, so a dedup pipeline's LSH store and a
    * retrieval pipeline's BM25 store retrain-and-flip exactly like
    * the IVF family (IndexStoreSpec's blue/green cases cover each).
    */
  def loadCurrentAnnIndex(spark: SparkSession, root: String): IvfIndex =
    loadCurrent(spark, root)(loadAnnIndex(spark, _))

  /** [[loadBm25Index]] of the current generation under `root`. */
  def loadCurrentBm25Index(spark: SparkSession, root: String): Bm25Index =
    loadCurrent(spark, root)(loadBm25Index(spark, _))

  /** [[loadLshIndex]] of the current generation under `root`. */
  def loadCurrentLshIndex(spark: SparkSession, root: String): LshIndex =
    loadCurrent(spark, root)(loadLshIndex(spark, _))

  /** [[loadPhashIndex]] of the current generation under `root`. */
  def loadCurrentPhashIndex(spark: SparkSession,
                            root: String): PhashIndex =
    loadCurrent(spark, root)(loadPhashIndex(spark, _))

  /** [[loadPqIndex]] of the current generation under `root`. */
  def loadCurrentPqIndex(spark: SparkSession, root: String): PqIndex =
    loadCurrent(spark, root)(loadPqIndex(spark, _))

  /** [[loadIvfPqIndex]] of the current generation under `root`. */
  def loadCurrentIvfPqIndex(spark: SparkSession,
                            root: String): IvfPqIndex =
    loadCurrent(spark, root)(loadIvfPqIndex(spark, _))

  /** [[loadBloomIndex]] of the current generation under `root`. */
  def loadCurrentBloomIndex(spark: SparkSession,
                            root: String): BloomIndex =
    loadCurrent(spark, root)(loadBloomIndex(spark, _))

  /** GENERATION-AWARE pruned serving — [[IvfIndex.servePrunedStore]]
    * bound to a [[publishIndex]] ROOT: every micro-batch re-resolves
    * [[currentIndexGeneration]] and serves from it, so a retrain +
    * publish flips a LIVE serving fleet on its next batch with no
    * restart — the read half of the blue/green seam (the write half
    * is [[publishIndex]]). Each batch resolves exactly once (no
    * mixed-generation batch by construction); per-generation
    * artifacts re-pull only when the generation flips. `onBatch`
    * receives (generation, hits). Delegates to
    * [[graft.streaming.EmbStreams.ivfServeCurrent]]; IndexStoreSpec's
    * blue/green stream case proves the mid-stream flip.
    */
  def serveCurrentAnnIndex(queries: Dataset[EmbStreams.EmbQuery],
                           root: String, nprobe: Int = 2, k: Int = 3)
                          (onBatch: (Int, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    EmbStreams.ivfServeCurrent(queries, root, nprobe, k)(onBatch)

  /** Introspect a [[publishIndex]] root — one row per generation:
    * (generation, kind, published, current, bytes, n_files, holder,
    * heartbeat_age_ms, stale_suspect). The blue/green sibling of
    * [[describeIndex]]: which generation serves, whether an
    * unpublished directory is pending (a crashed publish to resume or
    * an abandoned build to delete), how much disk the old blues
    * hold — the [[vacuumIndexGenerations]] signal — and, via the last
    * three columns (null on unlocked generations), whether a
    * generation is MID-WRITE and its writer still heartbeating
    * (`stale_suspect = true` on an unpublished generation means the
    * build presumably crashed). Triage is one call. Mostly filesystem
    * metadata; each generation's `kind` is its one-row manifest, read
    * in ONE batched parquet job across all generations.
    */
  def describeIndexGenerations(spark: SparkSession,
                               root: String): DataFrame =
    IndexStore.describeGenerations(spark, root)

  /** Drop published generations older than the newest `keep` under a
    * [[publishIndex]] root — the old-blue cleanup once the new
    * generation proves out (stop readers still on the old one first).
    * Unpublished build dirs are never touched, and a GRACE WINDOW
    * (`spark.graft.vacuumGenerationGraceMs`, default 1 h) refuses to
    * delete a generation whose successor was published more recently
    * than the window — the generation-aware serving streams re-resolve
    * per micro-batch, so a vacuum racing a fleet's flip could
    * otherwise delete the blue a straggler batch is still scanning
    * (set 0 in a drained maintenance window for unconditional
    * semantics). Returns the number removed.
    */
  def vacuumIndexGenerations(spark: SparkSession, root: String,
                             keep: Int = 1): Int =
    IndexStore.vacuumGenerations(spark, root, keep)

  /** Σ drift_ppm / 2 of an e28-shaped report — the total-variation
    * distance in ppm the retrain triggers threshold on. Empty report
    * (no cells) reads as zero drift, not null.
    */
  private def totalVariationPpm(report: DataFrame): Long =
    report.agg(coalesce(sum(col("drift_ppm")), lit(0L)))
      .head().getLong(0) / 2

  /** The WORST single subspace's total-variation distance (ppm) of a
    * per-(subspace, code) drift report — the threshold axis for the
    * compressed families: one degraded subspace degrades every
    * distance computed through it, so the trigger watches the max,
    * not the average.
    */
  private def worstSubspaceTvPpm(report: DataFrame): Long =
    report.groupBy(col("m"))
      .agg((sum(col("drift_ppm")) / 2).cast("long").as("tv"))
      .agg(coalesce(max(col("tv")), lit(0L)))
      .head().getLong(0)

  /** Build the product-quantization index (Jégou et al. 2011): train
    * 4-subspace × 16-dim codebooks (4 centroids each, 2 Lloyd
    * iterations, deterministic every-125th init) on the corpus, then
    * store each vector as 4 one-byte codes — 16× smaller than float32.
    * TRAINS EAGERLY at call time (bounded driver pulls: the init
    * vectors + per-iteration centroid sums — never the corpus); reuse
    * the returned handle for repeated searches. At 100 TB the corpus
    * is touched twice for training and once for encoding; codebooks
    * (4×4×16 floats) broadcast everywhere; search reads codes, never
    * raw vectors.
    *
    * Input: (vec_id Long, embedding Array[Float]) — 64-dim. Gates:
    * `e09_ann_pq` / `e16_ann_pq_rerank` (routed through
    * [[PqIndex.search]]/[[PqIndex.rerank]]); recall harness: e12/e17.
    */
  def pqIndex(corpus: DataFrame): PqIndex = {
    val codebooks = SimilarityQueries.pqTrain(corpus)
    PqIndex(SimilarityQueries.pqEncode(corpus, codebooks), codebooks,
      corpus)
  }

  /** A built PQ index: `codes` = (vec_id, code_0..code_3) — the stored
    * corpus representation — plus the trained `codebooks` and the raw
    * corpus handle [[rerank]] fetches exact vectors from.
    */
  final case class PqIndex private[api] (
      codes: DataFrame, codebooks: Array[Array[Array[Double]]],
      private val corpus: DataFrame) {

    /** ADC top-`k` per query: per-query lookup tables (query·centroid
      * per subspace) broadcast, 4 table lookups per candidate instead
      * of a 64-dim dot. Ranks by the asymmetric-distance APPROXIMATION
      * — quantization loss included; see [[rerank]] for the production
      * remedy. Self-matches are included (the e09 protocol). Queries:
      * (vec_id, embedding). Output: (query_id, rnk, vec_id, approx_ip)
      * sorted. Gate: `e09_ann_pq`.
      */
    def search(queries: DataFrame, k: Int = 3): DataFrame =
      SimilarityQueries.pqAdcRank(codes, codebooks, renamed(queries), k)

    /** DRIFT-TRIGGERED RETRAIN — [[IvfIndex.retrainIf]]'s contract
      * for the compressed family, thresholded on [[drift]]'s
      * per-(subspace, code) report: when the WORST single subspace's
      * total-variation distance (Σ drift_ppm / 2 within that
      * subspace — one degraded subspace degrades every ADC distance
      * computed through it) exceeds `maxDriftPpm`, retrain the
      * codebooks on STORED ∪ ARRIVALS (the handle keeps its raw
      * corpus — the rerank fetch side — so the union needs no caller
      * input) and re-encode everything via the same [[pqIndex]]
      * training a fresh build runs; otherwise return `this` unchanged
      * (byte-identical no-op). A negative threshold forces the
      * retrain. `arrivals`: (vec_id, embedding), non-empty.
      */
    def retrainIf(arrivals: DataFrame, maxDriftPpm: Long): PqIndex = {
      val worst = worstSubspaceTvPpm(drift(arrivals))
      if (worst <= maxDriftPpm) this
      else pqIndex(corpus.select(col("vec_id"), col("embedding"))
        .unionByName(arrivals.select(col("vec_id"), col("embedding"))))
    }

    /** DELETE vectors from the LIVE handle — [[IvfIndex.delete]]'s
      * contract for the compressed family: the ids anti-join out of
      * BOTH the code table (ADC candidates) and the raw corpus (the
      * [[rerank]] fetch side), so neither stage can surface a deleted
      * vector. Codebooks stay frozen.
      */
    def delete(ids: DataFrame): PqIndex = {
      val t = broadcast(ids.select(col("vec_id")))
      copy(codes = codes.join(t, Seq("vec_id"), "left_anti"),
        corpus = corpus.join(t, Seq("vec_id"), "left_anti"))
    }

    /** FILTERED ADC search — [[IvfIndex.searchWhere]]'s contract for
      * the compressed family: `keepIds` (a frame with a `vec_id`
      * column) restricts candidates via a semi-join over the 4-byte
      * code table BEFORE ranking; the index stays as built, and fewer
      * than k predicate-passing candidates yield fewer rows. Gate:
      * `e39_filtered_pq`.
      */
    def searchWhere(queries: DataFrame, keepIds: DataFrame, k: Int = 3)
        : DataFrame =
      SimilarityQueries.pqAdcRank(
        codes.join(keepIds.select(col("vec_id")), Seq("vec_id"),
          "left_semi"),
        codebooks, renamed(queries), k)

    /** Two-stage search: ADC shortlist of `fetch` candidates, then
      * EXACT cosine over just those raw vectors (a broadcast semi-join
      * fetch — the corpus is never rescanned, so the exact math costs
      * O(queries × fetch)). What a production PQ deployment serves:
      * e17 measures the recall this buys back over raw ADC (e12).
      * Queries: (vec_id, embedding). Output: (query_id, rank,
      * neighbor_id, cos) sorted. Gate: `e16_ann_pq_rerank`.
      */
    def rerank(queries: DataFrame, fetch: Int = 10, k: Int = 3)
        : DataFrame = {
      val q = renamed(queries)
      val shortlist = SimilarityQueries
        .pqAdcRank(codes, codebooks, q, fetch, ordered = false)
        .select(col("query_id"), col("vec_id"))
      SimilarityQueries.pqRerankStage(corpus, shortlist, q, k)
    }

    /** Append NEW vectors WITHOUT retraining — [[IvfIndex.append]]'s
      * contract for the compressed family: the trained codebooks are
      * FROZEN; arrivals are encoded against them in one linear pass
      * and unioned with the stored 4-byte code table (training — the
      * global two-Lloyd-job step — never re-runs; the stored codes are
      * never rescanned). Appended vectors get their honest nearest
      * frozen centroids per subspace, so quantization error only grows
      * as the live distribution drifts from the training snapshot —
      * the re-train trigger a production PQ store watches. `newVecs`:
      * (vec_id, embedding); they also join the [[rerank]] fetch
      * corpus. Gate: `e27_pq_append`.
      */
    def append(newVecs: DataFrame): PqIndex =
      PqIndex(
        codes.unionByName(SimilarityQueries.pqEncode(newVecs, codebooks)),
        codebooks,
        corpus.select(col("vec_id"), col("embedding")).unionByName(
          newVecs.select(col("vec_id"), col("embedding"))))

    /** [[append]] made DURABLE ([[IvfIndex.appendDurable]]'s contract
      * for the compressed family): encode the arrivals against this
      * handle's FROZEN codebooks (the exact gated kernel) and append
      * their codes + raw vectors INTO the saved layout at `dir`, then
      * reopen the store — a restarted JVM's `loadPqIndex(dir)` serves
      * the appended corpus. The disjoint-id contract is enforced BY
      * DEFAULT (`requireNewIds = true` — duplicates fan out through
      * the shortlist and the rerank fetch; a crashed append's remedy
      * is [[Graft.repairIndex]], which re-encodes stranded corpus
      * rows, NOT a blind retry); pass `false` only for
      * provably-disjoint producers. Gate: `e33_durable_append`.
      */
    def appendDurable(dir: String, newVecs: DataFrame,
                      requireNewIds: Boolean = true): PqIndex = {
      IndexStore.appendPq(dir,
        SimilarityQueries.pqEncode(newVecs, codebooks),
        newVecs.select(col("vec_id"), col("embedding")), requireNewIds)
      loadPqIndex(newVecs.sparkSession, dir)
    }

    /** Streaming ingest INTO the saved PQ layout at `dir` —
      * [[IvfIndex.appendStreamDurable]]'s contract for the compressed
      * family (frozen-codebook encode per micro-batch, single-writer
      * lock, per-batch-id marker idempotency with a checkpoint).
      */
    def appendStreamDurable(arrivals: Dataset[EmbStreams.EmbArrival],
                            dir: String,
                            checkpointDir: Option[String] = None)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.pqAppendDurable(arrivals, codebooks, dir, checkpointDir)

    /** Export a SHARD ([[IvfIndex.shard]]'s contract for the
      * compressed family): encode `vecs` against this handle's FROZEN
      * codebooks and save codes + raw rerank vectors as a
      * self-contained index directory, foldable into the serving
      * directory by [[mergeIndex]] (file renames; codebooks
      * value-checked, so shards from a different training run are
      * refused). IndexStoreSpec proves sharded ≡ appended.
      */
    def shard(dir: String, vecs: DataFrame): Unit =
      IndexStore.savePq(dir,
        SimilarityQueries.pqEncode(vecs, codebooks), codebooks,
        vecs.select(col("vec_id"), col("embedding")))

    private def renamed(queries: DataFrame): DataFrame =
      queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))

    /** Persist to `dir` ([[graft.sources.IndexStore]] layout): the
      * 4-byte code table, the trained codebooks (doubles round-trip
      * parquet exactly — a loaded index ADC-scores bit-for-bit), and
      * the raw (vec_id, embedding) corpus the [[rerank]] stage
      * fetches from (production stores keep that side on cold
      * storage; the hot serving read is the codes alone).
      */
    def save(dir: String): Unit =
      IndexStore.savePq(dir, codes, codebooks,
        corpus.select(col("vec_id"), col("embedding")))

    /** Serve an unbounded query stream against this index — delegates
      * to [[graft.streaming.EmbStreams.pqServe]] with the handle's
      * own codes + codebooks (no handle disassembly). Cache [[codes]]
      * first, as a serving deployment would; the per-batch read is
      * the 4-byte code table alone. Stream ≡ batch [[search]] is
      * spec-proven (EmbStreamsSpec).
      */
    def serve(queries: Dataset[EmbStreams.EmbQuery], k: Int = 3)
        : Dataset[EmbStreams.PqHit] =
      EmbStreams.pqServe(queries, codes, codebooks, k)

    /** Code-occupancy drift of an arrival `sample` vs the stored code
      * table — the RE-TRAIN TRIGGER a frozen-codebook store watches
      * ([[IvfIndex.drift]]'s contract for the compressed family):
      * quantization error grows exactly as live code usage drifts
      * from the training distribution. One all-integer row per
      * (subspace, code): (m, code, n_base, n_new, ppm_base, ppm_new,
      * drift_ppm), ppm shares normalized per subspace; Σ drift_ppm/2
      * per subspace is that subspace's total-variation distance in
      * ppm. The sample encodes through the shared [[append]] kernel,
      * so monitoring cannot diverge from what append would store.
      * `sample`: (vec_id, embedding), non-empty.
      * Gate: `e31_pq_code_drift`.
      */
    def drift(sample: DataFrame): DataFrame =
      SimilarityQueries.pqCodeDrift(codes, codebooks, sample)

    /** [[drift]] AT INGEST — delegates to
      * [[graft.streaming.EmbStreams.pqDriftMonitor]] with this
      * handle's frozen artifacts: running per-(subspace, code) arrival
      * counts as streaming state (≤ m × k rows), one e31-shaped
      * report per trigger through the gated seam. Stream ≡ batch
      * [[drift]] is spec-proven (EmbStreamsSpec). Stop the returned
      * query when done.
      */
    def driftMonitor(arrivals: Dataset[EmbStreams.EmbArrival],
                     checkpointDir: Option[String] = None)
                    (onReport: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.pqDriftMonitor(arrivals, codes, codebooks,
        checkpointDir)(onReport)
  }

  /** Reopen a [[PqIndex]] saved with [[PqIndex.save]]: NO re-training
    * — the frozen codebooks reload from the manifest-checked
    * directory, so search/rerank/append on the loaded handle run the
    * SAME gated code paths against the same frozen artifacts
    * (IndexStoreSpec proves loaded ≡ fresh bit-for-bit on the e09
    * query set, and that the e27 frozen-codebook append contract
    * holds on a loaded index).
    */
  def loadPqIndex(spark: SparkSession, dir: String): PqIndex = {
    val (codes, codebooks, corpus) = IndexStore.loadPq(spark, dir)
    PqIndex(codes, codebooks, corpus)
  }

  /** Build the IVF-PQ composite index (Jégou et al. 2011 §IV — the
    * production vector-compression stack): corpus routes to coarse
    * cells ([[annIndex]]'s label centroids), each vector's RESIDUAL
    * from its cell centroid is product-quantized (4 subspaces × 16
    * dims, 16-centroid codebooks), and the stored reconstruction norm
    * lets search rank by approximate COSINE. TRAINS EAGERLY (bounded
    * driver pulls). Storage per vector: cell id + 4 bytes + one float.
    *
    * Input: (vec_id Long, embedding Array[Float], label Int). Gate:
    * `e18_ann_ivfpq` (routed through [[IvfPqIndex.search]]); loss
    * decomposition: e19.
    */
  def ivfPqIndex(corpus: DataFrame): IvfPqIndex = {
    val (encoded, codebooks, pulled) =
      SimilarityQueries.ivfPqTrainEncode(corpus)
    IvfPqIndex(encoded, codebooks, () => pulled)
  }

  /** A built IVF-PQ index: `codes` = (vec_id, cell, code_0..code_3,
    * recon2_0..recon2_3), the trained residual `codebooks`, and ONE
    * coarse-centroid snapshot pulled at most once by `pull`
    * ([[IvfIndex]]'s rule: [[ivfPqIndex]] hands over the tuple it
    * trained, [[loadIvfPqIndex]] pulls lazily on first use).
    */
  final case class IvfPqIndex private[api] (
      codes: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      private[api] val pull: () => Seq[(Int, Array[Float])]) {
    private[api] lazy val pulled: Seq[(Int, Array[Float])] = pull()

    /** The coarse (cell, centroid) table of this handle's snapshot. */
    def centroids: DataFrame =
      SimilarityQueries.centroidsLocal(codes.sparkSession, pulled)

    /** Probe the `probes` nearest cells per query, ADC-score their
      * candidates by (q·c + Σ q_m·r̂_m) / (‖q‖·‖c + r̂‖), top-`k` per
      * query. Self is excluded (the e01/e05 protocol). Queries:
      * (vec_id, embedding). Output: (query_id, rnk, vec_id,
      * approx_cos) sorted. Gate: `e18_ann_ivfpq`.
      */
    def search(queries: DataFrame, probes: Int = 2, k: Int = 3)
        : DataFrame =
      SimilarityQueries.ivfPqSearch(codes, pulled, codebooks,
        queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb")), probes, k)

    /** Two-stage composite search — [[PqIndex.rerank]]'s contract for
      * the IVF-PQ family: probe + ADC shortlist of `fetch` candidates
      * in the compressed domain, then EXACT cosine over just those raw
      * vectors, fetched from the caller-supplied `corpus` via a
      * broadcast semi-join. Unlike [[PqIndex]], this handle
      * deliberately stores NO raw vectors (cell + 4 bytes + one float
      * per vector is its whole footprint — the composite's selling
      * point at 100 TB), so rerank fetches from the source table the
      * embeddings already live in: O(queries × fetch) rows read, the
      * corpus never rescanned, the index layout unchanged (a LOADED
      * handle reranks identically). Self is excluded end-to-end (the
      * e18 protocol carries through the shortlist). Output: (query_id,
      * rank, neighbor_id, cos) sorted. Gate: `e43_ivfpq_rerank`.
      */
    def rerank(queries: DataFrame, corpus: DataFrame, probes: Int = 2,
               fetch: Int = 10, k: Int = 3): DataFrame = {
      val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      val shortlist = SimilarityQueries.ivfPqSearch(
          codes, pulled, codebooks, q, probes, fetch, ordered = false)
        .select(col("query_id"), col("vec_id"))
      SimilarityQueries.pqRerankStage(
        corpus.select(col("vec_id"), col("embedding")), shortlist, q, k)
    }

    /** DRIFT-TRIGGERED RETRAIN — [[IvfIndex.retrainIf]]'s contract
      * for the composite family, thresholded on the RESIDUAL axis
      * ([[residualDrift]] — quantization fidelity is what a frozen
      * residual codebook loses first; watch the coarse axis via
      * [[drift]]/[[IvfIndex.retrainIf]] semantics separately): when
      * the worst subspace's total-variation distance exceeds
      * `maxDriftPpm`, rebuild coarse centroids AND residual codebooks
      * on `corpus` ∪ `arrivals` and re-encode, returning a new
      * handle; otherwise `this` unchanged (byte-identical no-op).
      *
      * Like [[rerank]], the raw vectors come from the caller: this
      * handle deliberately stores no embeddings (cell + 4 bytes + one
      * float per vector is its whole footprint), so `corpus` must be
      * the stored source table. The union is re-labeled by its
      * serving cells under the CURRENT centroids (the warm-started
      * Lloyd step [[IvfIndex.retrainIf]] documents) and fed to the
      * same [[ivfPqIndex]] training a fresh build runs. A negative
      * threshold forces the retrain. `arrivals`: (vec_id, embedding),
      * non-empty.
      */
    def retrainIf(corpus: DataFrame, arrivals: DataFrame,
                  maxDriftPpm: Long): IvfPqIndex = {
      val worst = worstSubspaceTvPpm(residualDrift(arrivals))
      if (worst <= maxDriftPpm) this
      else {
        val union = corpus.select(col("vec_id"), col("embedding"))
          .unionByName(arrivals.select(col("vec_id"), col("embedding")))
        ivfPqIndex(
          SimilarityQueries.assignCellsPulled(union, pulled)
            .withColumnRenamed("cell", "label"))
      }
    }

    /** DELETE vectors from the LIVE handle — [[IvfIndex.delete]]'s
      * contract for the composite family: the ids anti-join out of
      * the cell-partitioned code table (broadcast); coarse centroids
      * and residual codebooks stay frozen. [[rerank]] fetches only
      * shortlist survivors, so a deleted vector can't resurface
      * through the exact stage either.
      */
    def delete(ids: DataFrame): IvfPqIndex =
      IvfPqIndex(codes.join(
        broadcast(ids.select(col("vec_id"))), Seq("vec_id"), "left_anti"),
        codebooks, () => pulled)

    /** FILTERED composite search — [[IvfIndex.searchWhere]]'s contract
      * for the IVF-PQ family: the predicate semi-join lands on the
      * cell-partitioned code table BEFORE probing and ADC-cosine
      * ranking; the index stays as built. Gate: `e40_filtered_ivfpq`.
      */
    def searchWhere(queries: DataFrame, keepIds: DataFrame,
                    probes: Int = 2, k: Int = 3): DataFrame =
      SimilarityQueries.ivfPqSearch(
        codes.join(keepIds.select(col("vec_id")), Seq("vec_id"),
          "left_semi"),
        pulled, codebooks,
        queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb")), probes, k)

    /** Append NEW vectors WITHOUT retraining — [[IvfIndex.append]]'s
      * contract for the composite family: coarse centroids AND
      * residual codebooks stay FROZEN; arrivals are assigned to their
      * nearest frozen cell and their residuals encoded against the
      * frozen codebooks in one linear pass (the same shared encode
      * kernel the build uses), then unioned with the stored code
      * table. Quantization error grows only as the live distribution
      * drifts from the training snapshot — watch [[IvfIndex.drift]]'s
      * metric on the coarse cells for the re-train trigger. `newVecs`:
      * (vec_id, embedding). Gate: `e29_ivfpq_append`.
      */
    def append(newVecs: DataFrame): IvfPqIndex =
      IvfPqIndex(codes.unionByName(
        SimilarityQueries.ivfPqEncode(newVecs, pulled, codebooks)),
        codebooks, () => pulled)

    /** [[append]] made DURABLE ([[IvfIndex.appendDurable]]'s contract
      * for the composite family): encode the arrivals against the
      * frozen coarse centroids + residual codebooks (the exact gated
      * kernel) and append the code rows INTO the saved
      * cell-partitioned layout at `dir`, then reopen the store. The
      * disjoint-id contract is enforced BY DEFAULT
      * (`requireNewIds = true` — a blind retry of a "failed" attempt
      * that actually committed would duplicate search candidates);
      * pass `false` only for provably-disjoint producers.
      * Gate: `e33_durable_append`.
      */
    def appendDurable(dir: String, newVecs: DataFrame,
                      requireNewIds: Boolean = true): IvfPqIndex = {
      IndexStore.appendIvfPq(dir,
        SimilarityQueries.ivfPqEncode(newVecs, pulled, codebooks),
        requireNewIds)
      loadIvfPqIndex(newVecs.sparkSession, dir)
    }

    /** Streaming ingest INTO the saved IVF-PQ layout at `dir` —
      * [[IvfIndex.appendStreamDurable]]'s contract for the composite
      * family (frozen coarse + residual encode per micro-batch,
      * single-writer lock, per-batch-id marker idempotency with a
      * checkpoint).
      */
    def appendStreamDurable(arrivals: Dataset[EmbStreams.EmbArrival],
                            dir: String,
                            checkpointDir: Option[String] = None)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.ivfPqAppendDurable(arrivals, pulled, codebooks, dir,
        checkpointDir)

    /** Export a SHARD ([[IvfIndex.shard]]'s contract for the
      * composite family): encode `vecs` against the frozen coarse
      * centroids + residual codebooks and save the cell-partitioned
      * code rows as a self-contained index directory, foldable by
      * [[mergeIndex]] (per-cell file renames; BOTH artifact sets
      * value-checked). IndexStoreSpec proves sharded ≡ appended.
      */
    def shard(dir: String, vecs: DataFrame): Unit =
      IndexStore.saveIvfPq(dir,
        SimilarityQueries.ivfPqEncode(vecs, pulled, codebooks),
        centroids, codebooks)

    /** Persist to `dir` ([[graft.sources.IndexStore]] layout): the
      * code table partitioned by coarse cell (probe-time scans read
      * only probed cells' files), the centroids, and the residual
      * codebooks. Loaded handles search/append bit-identically
      * (IndexStoreSpec).
      */
    def save(dir: String): Unit =
      IndexStore.saveIvfPq(dir, codes, centroids, codebooks)

    /** Serve an unbounded query stream against this index — delegates
      * to [[graft.streaming.EmbStreams.ivfPqServe]] with the handle's
      * own frozen artifacts (no handle disassembly): each micro-batch
      * runs the EXACT e18-gated [[search]] kernel, so stream ≡ batch
      * by construction (EmbStreamsSpec). Cache [[codes]] first, as a
      * serving deployment would. `onBatch` receives each batch's
      * (query_id, rnk, vec_id, approx_cos); stop the returned query
      * when done.
      */
    def serve(queries: Dataset[EmbStreams.EmbQuery], nprobe: Int = 2,
              k: Int = 3)(onBatch: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.ivfPqServe(queries, codes, pulled, codebooks,
        nprobe, k)(onBatch)

    /** Coarse-cell drift of an arrival `sample` vs the stored code
      * table — [[IvfIndex.drift]]'s report for the composite family:
      * the coarse quantizer IS an IVF structure (shared
      * centroids/assignment kernels), cell-balance drift is what
      * degrades probe latency, and the stored `codes` table carries
      * each vector's cell, so this delegates to the exact e28-gated
      * kernel with no re-assignment of the stored corpus. Watch
      * residual-code drift separately via [[PqIndex.drift]]'s axis.
      * `sample`: (vec_id, embedding), non-empty.
      * Gate: `e32_ivfpq_drift`.
      */
    def drift(sample: DataFrame): DataFrame =
      SimilarityQueries.cellDrift(codes, pulled, sample)

    /** The composite family's SECOND drift axis ([[drift]] watches
      * coarse cell balance; this watches RESIDUAL code usage): encode
      * the sample through the exact gated [[append]] kernel (cell
      * assign → residual → per-subspace argmin against the frozen
      * codebooks) and compare per-(subspace, code) occupancy shares
      * against the stored composite code table — [[PqIndex.drift]]'s
      * all-integer report through the same gated seam. Coarse drift
      * degrades probe latency; residual-code drift degrades
      * quantization fidelity — a production store watches both.
      * `sample`: (vec_id, embedding), non-empty.
      * Gate: `e34_ivfpq_residual_drift`.
      */
    def residualDrift(sample: DataFrame): DataFrame =
      SimilarityQueries.pqCodeDriftFromCounts(codes, codebooks,
        SimilarityQueries.pqCodeUnpivot(
          SimilarityQueries.ivfPqEncode(sample, pulled, codebooks),
          codebooks.length)
          .groupBy(col("m"), col("code"))
          .agg(count(lit(1)).as("n_new")))

    /** [[drift]] AT INGEST — the coarse-cell monitor through the
      * handle: the stored composite code table already carries each
      * vector's `cell`, so this delegates to the exact e28-shaped
      * [[graft.streaming.EmbStreams.driftMonitor]] with the handle's
      * own frozen artifacts (running per-cell counts as Complete-mode
      * state, one report per trigger). Stream ≡ batch [[drift]] is
      * spec-proven (EmbStreamsSpec). Stop the returned query when
      * done.
      */
    def driftMonitor(arrivals: Dataset[EmbStreams.EmbArrival],
                     checkpointDir: Option[String] = None)
                    (onReport: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.driftMonitor(arrivals, codes, pulled,
        checkpointDir)(onReport)

    /** [[residualDrift]] AT INGEST — the composite family's second
      * monitoring axis as a stream: each micro-batch encodes through
      * the exact gated [[append]] kernel and the running
      * per-(subspace, code) counts report through the e34 seam.
      * Delegates to
      * [[graft.streaming.EmbStreams.ivfPqResidualDriftMonitor]];
      * stream ≡ batch is spec-proven (EmbStreamsSpec). Stop the
      * returned query when done.
      */
    def residualDriftMonitor(arrivals: Dataset[EmbStreams.EmbArrival])
                            (onReport: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      EmbStreams.ivfPqResidualDriftMonitor(arrivals, codes, pulled,
        codebooks)(onReport)
  }

  /** Reopen an [[IvfPqIndex]] saved with [[IvfPqIndex.save]] — frozen
    * coarse centroids + residual codebooks reload without any
    * training pass; search/append run the gated kernels.
    */
  def loadIvfPqIndex(spark: SparkSession, dir: String): IvfPqIndex = {
    val (codes, centroids, codebooks) = IndexStore.loadIvfPq(spark, dir)
    IvfPqIndex(codes, codebooks,
      () => SimilarityQueries.pullCentroids(centroids))
  }

  // ------------------------------------------------------------------
  // Multimodal
  // ------------------------------------------------------------------

  /** Perceptual aHash of opaque image payloads, decoded with the real
    * JDK codec: 8×8 block sums, cross-multiplied integer thresholding,
    * packed into two 32-bit words. Decode is a linear per-row pass;
    * only the 8-byte hashes ever shuffle downstream.
    *
    * Input: Dataset of (media_id, payload bytes). Output: (media_id,
    * lo, hi). Gate: `mm07_phash_neardup` (via [[imageNearDups]]).
    */
  def imagePHash(media: Dataset[(Long, Array[Byte])]): DataFrame =
    MultimodalQueries.hashImages(media)

  /** Banded LSH near-duplicate pairs over [[imagePHash]] output:
    * 5-band (13/13/13/13/12-bit) chunk candidates — pigeonhole-complete
    * for Hamming ≤ 4, so at the default `maxHamming` = 4 no true pair
    * can be dropped; passing `maxHamming` > 4 keeps the exact verify
    * but loses the candidate-completeness guarantee (pairs at distance
    * 5+ are found only probabilistically). Exact xor+popcount verify at
    * ≤ `maxHamming`. `bucketCap` skips buckets above the cap — the
    * lever for hyper-duplicated corpora where the true pair set itself
    * is quadratic.
    *
    * Input: (media_id, lo, hi) — cache/localCheckpoint it first if the
    * hash step is expensive (it feeds both join sides). Output:
    * (ma, mb, hamming), ma < mb, unsorted. Gate: `mm07_phash_neardup`.
    */
  def imageNearDups(hashed: DataFrame, maxHamming: Int = 4,
                    bucketCap: Option[Long] = None): DataFrame =
    MultimodalQueries.phashNearDups(hashed, maxHamming, bucketCap)

  /** [[imageNearDups]] collapsed to a one-row pair count (`n_pairs`) —
    * the countOnly mode ([[audioNearDupCount]]'s rationale; mm07's
    * uncapped x100 cell is output-bound by hyper-duplication).
    */
  def imageNearDupCount(hashed: DataFrame, maxHamming: Int = 4,
                        bucketCap: Option[Long] = None): DataFrame =
    MultimodalQueries.nearDupPairCount(
      MultimodalQueries.phashNearDups(hashed, maxHamming, bucketCap))

  /** 64-bit audio energy fingerprint of opaque WAV payloads, decoded
    * with the real JDK codec: 64 relative |amplitude| windows,
    * window-mean vs clip-mean compared cross-multiplied in integers,
    * packed into two 32-bit words — [[imagePHash]]'s (lo, hi) layout,
    * so both modalities share one banding scheme.
    * Input: Dataset of (media_id, payload bytes). Output: (media_id,
    * lo, hi). Gate: `mm08_audio_fp_neardup` (via [[audioNearDups]]).
    */
  def audioFingerprint(media: Dataset[(Long, Array[Byte])]): DataFrame =
    MultimodalQueries.fingerprintAudio(media)

  /** Banded LSH near-dup pairs over [[audioFingerprint]] output —
    * [[imageNearDups]]'s machinery on the audio code: 5-band
    * (13/13/13/13/12-bit) chunk candidates, pigeonhole-complete for
    * Hamming ≤ 4 (`maxHamming` > 4 loses the completeness guarantee),
    * exact xor+popcount verify, `bucketCap` hot-bucket lever.
    * Input: (media_id, lo, hi). Output: (ma, mb, hamming), ma < mb,
    * unsorted. Gate: `mm08_audio_fp_neardup`.
    */
  def audioNearDups(fps: DataFrame, maxHamming: Int = 4,
                    bucketCap: Option[Long] = None): DataFrame =
    MultimodalQueries.phashNearDups(fps, maxHamming, bucketCap)

  /** [[audioNearDups]] collapsed to a one-row pair count (`n_pairs`) —
    * the countOnly mode for output-bound regimes: on a hyper-duplicated
    * corpus the TRUE pair set is quadratic in the per-class copy count,
    * and materializing it dominates any run; the count keeps the
    * candidate/verify plan identical and collapses the output through a
    * map-side-combinable aggregate. Gate: `mm08_audio_neardup_count`.
    */
  def audioNearDupCount(fps: DataFrame, maxHamming: Int = 4,
                        bucketCap: Option[Long] = None): DataFrame =
    MultimodalQueries.nearDupPairCount(
      MultimodalQueries.phashNearDups(fps, maxHamming, bucketCap))

  /** Screen incoming image hashes against a small broadcast index of
    * existing-corpus hashes — the at-ingest dedup shape
    * ([[graft.streaming.MediaStreams.imageDedupScreen]] composes it per
    * micro-batch). Both frames: (media_id, lo, hi).
    */
  def imageScreen(incoming: DataFrame, index: DataFrame): DataFrame =
    MultimodalQueries.phashScreen(incoming, index)

  /** Build the DURABLE perceptual-hash index — the media dedup
    * family's store kind: persist the corpus's 64-bit aHashes once
    * (16 bytes a media object; decode happened exactly once, at
    * [[imagePHash]] time) and screen arriving images against it
    * forever. `hashed`: an [[imagePHash]]-shaped (media_id, lo, hi)
    * frame. Gate: `mm10_phash_index_screen` (save → load → screen vs
    * the exact new-vs-stored Hamming answer — the 5-band layout is
    * pigeonhole-complete at the ≤ 4 threshold, so banded ≡ exact).
    */
  def phashIndex(hashed: DataFrame): PhashIndex =
    PhashIndex(hashed.select(col("media_id"), col("lo"), col("hi")))

  /** A built pHash index: `hashes` = (media_id, lo, hi). A handle
    * LOADED from a bucketed (v2) store also carries `storedBands` —
    * the persisted banded projection, partitioned by its `pb` probe
    * bucket — and [[screen]] prunes its scan to the batch's buckets'
    * files instead of banding the whole hash table per call
    * (`probeBuckets` = the store's modulus; None/0 = live-built or
    * v1 — screens band `hashes` in-plan, unpruned). `pbBloom` is the
    * store's band-key Bloom sketch ((w, word) frame, bit size) —
    * [[screen]] probes the batch's (band, chunk) keys against it
    * FIRST, so a definitely-novel media batch never touches the
    * stored tables at all (sound: a Bloom has no false negatives; FPs
    * only cost probes, never change a verdict).
    */
  final case class PhashIndex private[api] (
      hashes: DataFrame, storedBands: Option[DataFrame] = None,
      probeBuckets: Int = 0,
      pbBloom: Option[(DataFrame, Int)] = None) {

    /** Near-dup verdicts for arriving hashes vs the STORED corpus:
      * the batch's banded hashes BROADCAST into the stored band
      * projection (the stored table never shuffles — at 100 TB one
      * linear pass over 16-byte rows per batch); exact Hamming ≤
      * `maxHamming` verifies. `bucketCap` skips stored buckets above
      * `cap` members (hyper-duplicated classes are exact-dedup's
      * job). `incoming`: (media_id, lo, hi) — an INGEST BATCH by
      * size contract (its banded rows broadcast; oversized batches
      * fail loudly at the broadcast rather than silently shuffling
      * the stored table — or, with `spark.graft.maxScreenBatchRows`
      * set, at that named boundary with a message that says why).
      * Output: (ma [arriving], mb [stored], hamming), unsorted.
      */
    def screen(incoming: DataFrame, maxHamming: Int = 4,
               bucketCap: Option[Long] = None): DataFrame =
      storedBands match {
        case Some(bands) if probeBuckets > 0 =>
          MultimodalQueries.phashScreenBands(bands, incoming,
            maxHamming, bucketCap, probeBuckets, pbBloom)
        case _ =>
          MultimodalQueries.phashScreenStored(hashes, incoming,
            maxHamming, bucketCap)
      }

    /** Add newly hashed media to the LIVE handle. On a LOADED handle
      * the result reverts to unpruned screening (the union is no
      * longer file-backed); [[appendDurable]] keeps the pruned path.
      */
    def append(hashed: DataFrame): PhashIndex =
      PhashIndex(hashes.unionByName(
        hashed.select(col("media_id"), col("lo"), col("hi"))))

    /** [[append]] made DURABLE — one parquet append of the arrivals'
      * hashes into the saved layout, then reopen.
      */
    def appendDurable(dir: String, hashed: DataFrame): PhashIndex = {
      IndexStore.appendPhash(dir, hashed
        .select(col("media_id").as("vec_id"), col("lo"), col("hi")))
      loadPhashIndex(hashed.sparkSession, dir)
    }

    /** DELETE media from the LIVE handle (durable stores delete via
      * [[deleteFromIndex]] with `vec_id` = media_id). Deleting rows
      * never invalidates pruning, so a loaded handle keeps its
      * pruned-band path (masked the same way).
      */
    def delete(ids: DataFrame): PhashIndex = {
      val t = broadcast(ids.select(col("vec_id").as("media_id")))
      copy(hashes = hashes.join(t, Seq("media_id"), "left_anti"),
        storedBands = storedBands.map(
          _.join(t, Seq("media_id"), "left_anti")))
    }

    /** Export a SHARD of hashed media — foldable by [[mergeIndex]]. */
    def shard(dir: String, hashed: DataFrame): Unit =
      IndexStore.savePhash(dir, hashed
        .select(col("media_id").as("vec_id"), col("lo"), col("hi")))

    /** Persist to `dir` ([[graft.sources.IndexStore]] layout);
      * compact/vacuum/describe/epochs/delete apply unchanged.
      */
    def save(dir: String): Unit =
      IndexStore.savePhash(dir, hashes
        .select(col("media_id").as("vec_id"), col("lo"), col("hi")))
  }

  /** Reopen a [[PhashIndex]] saved with [[PhashIndex.save]] —
    * tombstoned media anti-joined out. On a bucketed store the handle
    * also opens the persisted banded projection, so [[PhashIndex
    * .screen]] prunes to the batch's buckets' files.
    */
  def loadPhashIndex(spark: SparkSession, dir: String): PhashIndex = {
    val bands = IndexStore.loadPhashBands(spark, dir)
    PhashIndex(IndexStore.loadPhash(spark, dir)
      .select(col("vec_id").as("media_id"), col("lo"), col("hi")),
      bands.map(_._1.withColumnRenamed("vec_id", "media_id")),
      bands.fold(0)(_._2),
      IndexStore.loadPhashPbBloom(spark, dir))
  }

  /** Per-frame perceptual hashes of opaque video payloads, decoded
    * with the real JDK GIF reader: one (lo, hi) gray aHash per frame.
    * Input: Dataset of (media_id, payload bytes). Output: (media_id,
    * frame_no, n_frames, lo, hi). Gate: `mm09_video_neardup` (via
    * [[videoNearDups]]).
    */
  def videoFrameHashes(media: Dataset[(Long, Array[Byte])]): DataFrame =
    MultimodalQueries.hashVideoFrames(media)

  /** Temporally-aligned video near-dup pairs over [[videoFrameHashes]]
    * output: candidates from a (frame position, band, chunk)-keyed
    * 5-band LSH join, kept when EVERY aligned position (0 until
    * min(k_a, k_b)) matches at Hamming ≤ `maxHamming` — complete for
    * the default 4 (position 0 must match, and the banding is complete
    * there). Input: (media_id, frame_no, n_frames, lo, hi) — cache or
    * localCheckpoint it first (it feeds the band join and both verify
    * sides). Output: (ma, mb, n_aligned, max_hamming), ma < mb,
    * unsorted. Gate: `mm09_video_neardup`.
    */
  def videoNearDups(frameHashes: DataFrame, maxHamming: Int = 4,
                    bucketCap: Option[Long] = None): DataFrame =
    MultimodalQueries.videoNearDups(frameHashes, maxHamming, bucketCap)

  /** [[videoNearDups]] collapsed to a one-row pair count (`n_pairs`) —
    * the countOnly mode ([[audioNearDupCount]]'s rationale; PARITY's
    * uncapped mm09 xN cells are output-bound, not plan-bound).
    * Gate: `mm09_video_neardup_count`.
    */
  def videoNearDupCount(frameHashes: DataFrame, maxHamming: Int = 4,
                        bucketCap: Option[Long] = None): DataFrame =
    MultimodalQueries.nearDupPairCount(
      MultimodalQueries.videoNearDups(frameHashes, maxHamming, bucketCap))

  /** Screen incoming videos' frame hashes ([[videoFrameHashes]] output)
    * against a (small, broadcast) index of existing-corpus frame
    * hashes, with [[videoNearDups]]'s temporally-aligned rule at
    * Hamming ≤ 4 — the at-ingest video-dedup shape
    * ([[graft.streaming.MediaStreams.videoDedupScreen]] composes it per
    * micro-batch). Output: (ma = incoming id, mb = index id, n_aligned,
    * max_hamming).
    */
  def videoScreen(incoming: DataFrame, index: DataFrame): DataFrame =
    MultimodalQueries.videoScreen(incoming, index)
}
