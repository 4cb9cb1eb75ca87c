package graft.examples

import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.api.Graft

/** End-to-end DURABLE vector-store lifecycle demo — the operational
  * loop a production embedding store runs, every step one of the
  * gate-checked code paths:
  *
  *   train once → save → parallel shard build → file-rename merge →
  *   restart → load → search / filtered search → durable append →
  *   drift report → compact → audit.
  *
  * The "restart" seams are real: each load re-opens the directory
  * through a handle sharing nothing with the writer, which is exactly
  * what IndexStoreSpec proves bit-identical to the in-memory path.
  *
  * Run: sbt "runMain graft.examples.VectorStoreDemo [sfDir]"
  */
object VectorStoreDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSpark.session(8, "vector-store-demo")

    val root = java.nio.file.Files
      .createTempDirectory("graft_vector_store").toString
    val dir = s"$root/serving"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)

    // 1. Train ONCE on the initial snapshot; persist the serving dir.
    val snapshot = emb.filter(col("vec_id") % 5 =!= 0)
    val trained = Graft.annIndex(snapshot)
    trained.save(dir)
    println(s"[1] trained on ${snapshot.count()} vectors, saved -> $dir")

    // 2. PARALLEL build of the backlog: two independent shard jobs
    //    encode disjoint slices against the frozen centroids (no
    //    coordination), then fold into the serving dir by file RENAME.
    val backlog = emb.filter(col("vec_id") % 5 === 0)
    trained.shard(s"$root/shard0", backlog.filter(col("vec_id") % 2 === 0))
    trained.shard(s"$root/shard1", backlog.filter(col("vec_id") % 2 === 1))
    Graft.mergeIndex(spark, dir, s"$root/shard0")
    Graft.mergeIndex(spark, dir, s"$root/shard1")
    println(s"[2] merged 2 shards (${backlog.count()} vectors) by rename")

    // 3. RESTART: a fresh handle serves the whole corpus.
    val idx = Graft.loadAnnIndex(spark, dir)
    val top = idx.search(queries, probes = 2, k = 3)
    println(s"[3] loaded handle served ${top.count()} results; top row: " +
      top.head())

    // 4. Filtered search — ANN WHERE label = 0 (metadata predicate
    //    applied at search time; the index is unchanged).
    val keep = emb.filter(col("label") === 0).select(col("vec_id"))
    println(s"[4] filtered search returned " +
      s"${idx.searchWhere(queries, keep).count()} rows")

    // 5. Freshness: a late arrival batch appends INTO the layout
    //    (files land only in the touched cells' directories) — reuse
    //    the backlog slice with shifted ids as synthetic late traffic.
    val late = backlog.limit(50)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    val idx2 = idx.appendDurable(dir, late)
    println(s"[5] durable-appended ${late.count()} late vectors")

    // 6. The re-train trigger: per-cell occupancy drift of an arrival
    //    sample vs the stored corpus (all-integer ppm report).
    val drift = idx2.drift(late)
    // coalesce: sum over zero rows is null — an empty report must read
    // as zero drift, not crash the demo
    val tv = drift.agg(coalesce(sum(col("drift_ppm")), lit(0L)))
      .head().getLong(0) / 2
    println(s"[6] drift report: total-variation ${tv} ppm over " +
      s"${drift.count()} cells")

    // 7. Maintenance: collapse append debris, then audit the epochs —
    //    every row's count came from the written parquet footers.
    Graft.compactIndex(spark, dir)
    println(s"[7] compacted; describe:")
    Graft.describeIndex(spark, dir).show(truncate = false)
    println(s"    epoch audit (save / merge x2 / append / compact):")
    Graft.indexEpochs(spark, dir)
      .select(col("seq"), col("op"), col("n_rows")).show()

    // 8. The compressed family round-trips the same way. (Trained on
    //    the full corpus: PQ's every-125th deterministic init needs
    //    the unfiltered id spacing — the e27 scaladoc's % 7-vs-% 5
    //    note.)
    val pqDir = s"$root/pq"
    Graft.pqIndex(emb).save(pqDir)
    val pq = Graft.loadPqIndex(spark, pqDir)
    println(s"[8] PQ store: ADC search ${pq.search(queries).count()} rows, " +
      s"exact rerank ${pq.rerank(queries).count()} rows")

    spark.stop()
  }
}
