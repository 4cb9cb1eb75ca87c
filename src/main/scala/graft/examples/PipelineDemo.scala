package graft.examples

import org.apache.spark.sql.functions._

import graft.{LocalSpark, SparkEntry}

/** End-to-end training-data pipeline demo over the documents/embeddings
  * tables: quality stats → dedup clustering → keep list → token budget →
  * ANN spot-check. Every step is one of the gate-checked queries — this
  * main just strings them into the pipeline a corpus engineer would run.
  *
  * Run: sbt "runMain graft.examples.PipelineDemo [sfDir]"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSpark.session(8, "pipeline-demo")
    def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

    val nDocs = q("t01_token_stats").count()
    val dupPairs = q("d04_minhash_lsh").count()
    val clusters = q("d06_dedup_clusters")
    val nClustered = clusters.count()
    val nCanonical = clusters.filter(col("doc_id") === col("canonical_id")).count()
    val keep = q("d07_keep_list")
    val nKeep = keep.filter(col("keep")).count()
    val tokenBudget = q("t07_bpe_token_count")
      .agg(sum(col("n_bpe_tokens"))).head().getLong(0)
    val keptTokens = q("t07_bpe_token_count").alias("t")
      .join(keep.filter(col("keep")).alias("k"),
        col("t.doc_id") === col("k.doc_id"))
      .agg(sum(col("n_bpe_tokens"))).head().getLong(0)

    // round-3 stages: rule filter → segment dedup → mixture → packing → shards
    val c4Keep = q("t15_c4_filter").filter(col("keep")).count()
    val segDup = q("d10_segment_dedup")
      .agg(sum(col("n_dup_segments")), sum(col("n_segments"))).head()
    // round-4 stages: intra-doc cleanup → semantic dedup → sketch profile
    val intraDup = q("d11_intradoc_dedup")
      .agg(sum(col("n_dup_segments")), sum(col("n_segments"))).head()
    val semKeep = q("e07_semantic_dedup").filter(col("keep")).count()
    val heavy = q("t19_heavy_hitters_cms").limit(3).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}(est ${r.getLong(2)})")
      .mkString(", ")
    val mixKept = q("t12_domain_mixture")
      .agg(sum(col("n_kept")), sum(col("n_docs"))).head()
    val nSeqs = q("t11_sequence_packing").count()
    val nShards = q("t14_shard_manifest").count()
    // round-7 stage: pre-release decontamination — fuzzy near-dup of any
    // benchmark doc (broadcast benchmark side; see d15 scaladoc)
    val nFuzzyContam = q("d15_cross_decontamination")
      .select(col("train_id")).distinct().count()
    // round-7 stage: model-based quality gate (t21 hashed classifier)
    val clfKeep = q("t21_quality_classifier").filter(col("keep")).count()
    // round-7 final stages: LM-perplexity filter proxy (t22), the
    // quality-argmax survivor policy (d16), image near-dups (mm07)
    val pplx = q("t22_bigram_perplexity")
      .agg(avg(col("avg_neglogp"))).head().getDouble(0)
    val qualityKeep = q("d16_quality_keeper").filter(col("keep")).count()
    val imgDupPairs = q("mm07_phash_neardup").count()
    val novelty = q("t25_ngram_novelty")
      .agg(avg(col("novelty_frac"))).head().getDouble(0)

    println(s"""
      |=== corpus report ($sfDir) ===
      |documents:                 $nDocs
      |pass C4-style rules:       $c4Keep / $nDocs
      |near-dup pairs (J>=0.8):   $dupPairs
      |docs in dup clusters:      $nClustered (canonical survivors: $nCanonical)
      |keep after dedup+quality:  $nKeep / $nDocs
      |duplicate segments:        ${segDup.getLong(0)} / ${segDup.getLong(1)}
      |intra-doc dup segments:    ${intraDup.getLong(0)} / ${intraDup.getLong(1)}
      |semantic-dedup survivors:  $semKeep
      |top tokens (CMS-checked):  $heavy
      |mixture sampling keeps:    ${mixKept.getLong(0)} / ${mixKept.getLong(1)}
      |token budget (BPE-ish):    $tokenBudget total -> $keptTokens kept
      |packed 2048-tok sequences: $nSeqs
      |doc shards (t14 manifest): $nShards
      |fuzzy benchmark contamination (d15, J>=0.5): $nFuzzyContam train docs flagged
      |classifier quality gate (t21, p>=0.5): $clfKeep / $nDocs kept
      |corpus bigram perplexity (t22 avg -ln p): ${f"$pplx%.3f"}
      |quality-argmax survivors (d16): $qualityKeep / $nDocs
      |image near-dup pairs (mm07, Hamming<=4): $imgDupPairs
      |corpus 5-gram novelty (t25 mean frac): ${f"$novelty%.4f"}
      |""".stripMargin)

    println("ANN spot-check (query 0, IVF k-means vs exact):")
    q("e06_ann_ivf_kmeans").filter(col("query_id") === 0).show(3, false)
    q("e01_knn_bruteforce").filter(col("query_id") === 0).show(3, false)
    spark.stop()
  }
}
