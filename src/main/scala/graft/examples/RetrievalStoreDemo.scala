package graft.examples

import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.api.Graft

/** End-to-end DURABLE retrieval + dedup store demo — the round-11
  * additions as one operational loop, every step a gate-checked code
  * path:
  *
  *   corpus → BM25 store + IVF store (the two hybrid halves) →
  *   restart → hybrid RRF search → LSH dedup index → screen arrivals →
  *   delete (tombstones) → compact (applies them) → retrain-if-drifted.
  *
  * Run: sbt "runMain graft.examples.RetrievalStoreDemo [sfDir]"
  */
object RetrievalStoreDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSpark.session(8, "retrieval-store-demo")

    val root = java.nio.file.Files
      .createTempDirectory("graft_retrieval_store").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    // 1. Persist BOTH hybrid halves: lexical postings + dense cells.
    Graft.bm25Index(docs).save(s"$root/bm25")
    Graft.annIndex(emb).save(s"$root/ivf")
    println(s"[1] saved BM25 + IVF stores under $root")

    // 2. "Restart": fresh handles, then hybrid RRF retrieval.
    val lex = Graft.loadBm25Index(spark, s"$root/bm25")
    val dense = Graft.loadAnnIndex(spark, s"$root/ivf")
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
      .join(emb.select(col("vec_id").as("query_id"), col("embedding")),
        Seq("query_id"))
    println("[2] hybrid (BM25 + IVF under RRF) top-3 per query:")
    Graft.hybridSearch(lex, dense, queries, k = 3).show(9, truncate = false)

    // 3. The dedup index: persist once, screen arrivals forever.
    val stored = docs.filter(col("doc_id") % 3 =!= 0)
    val arriving = docs.filter(col("doc_id") % 3 === 0)
    Graft.lshIndex(stored).save(s"$root/lsh")
    val verdicts = Graft.loadLshIndex(spark, s"$root/lsh").screen(arriving)
    println(s"[3] LSH screen: ${verdicts.count()} near-dup verdicts " +
      s"for ${arriving.count()} arrivals (stored corpus never rescanned)")

    // 4. The REMOVE path: tombstone a slice, compact applies it.
    Graft.deleteFromIndex(spark, s"$root/ivf",
      emb.filter(col("vec_id") % 11 === 3).select(col("vec_id")))
    Graft.compactIndex(spark, s"$root/ivf")
    println("[4] deleted vec_id % 11 = 3 and compacted; epoch audit:")
    Graft.indexEpochs(spark, s"$root/ivf")
      .select(col("seq"), col("op"), col("n_rows")).show()

    // 5. The RETRAIN closure: drift below budget is a no-op; a
    //    negative threshold forces the warm-started rebuild.
    val idx = Graft.loadAnnIndex(spark, s"$root/ivf")
    val sample = emb.filter(col("vec_id") % 5 === 0)
    val same = idx.retrainIf(sample, maxDriftPpm = Long.MaxValue)
    println(s"[5] below-threshold retrainIf returned the same handle: " +
      s"${same eq idx}")
    val retrained = idx.retrainIf(sample, maxDriftPpm = -1L)
    println(s"    forced retrain re-celled ${retrained.assigned.count()} " +
      "vectors (one warm-started Lloyd step)")

    spark.stop()
  }
}
