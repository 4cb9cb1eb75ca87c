package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.api.Graft

/** IndexStore through the Graft facade.
  *
  * Write: IVF annIndex → save → 2 × shard → 2 × mergeIndex →
  * appendDurable of the late rows in 2 chunks → compactIndex →
  * describeIndex(deep); BM25 build → save → appendDurable. Read, on the
  * last iteration's stores: loadAnnIndex and seeded 8-vector searches,
  * loadBm25Index and 8-query searchText batches.
  */
object VectorStore {
  /** IVF recall@10 (probes = 2) against exact knn must not fall below
    * this on any seed.
    */
  val RecallFloor = 0.8
  val K = 10
  val AppendChunks = 2
  val IvfBatches = 4
  val Bm25Batches = 2
}

final class VectorStore(c: Ctx) extends Component {
  import VectorStore._
  private val spark = c.spark
  import spark.implicits._

  private val corpus = spark.read.parquet(c.input("corpus.parquet"))
  private val late = spark.read.parquet(c.input("late.parquet"))
  private val docs = spark.read.parquet(c.input("docs.parquet"))
  private val lateDocs = spark.read.parquet(c.input("late_docs.parquet"))
  private val n = corpus.count()
  private val nLate = late.count()
  private val nDocs = docs.count() + lateDocs.count()
  private val inputBytes = Seq("corpus", "late").map(t => Files2.bytes(c.input(s"$t.parquet"))).sum
  c.info("corpus_rows") = n.toString
  // the query pool: seeded corpus vectors, 8 per batch
  private val pool = {
    val ids = Seq.fill(256)(c.rng.nextInt(n.toInt).toLong).distinct
    corpus.filter(col("vec_id").isin(ids: _*)).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1).toVector
  }
  private def batch(i: Int): DataFrame =
    (0 until 8).map(j => pool((i * 8 + j) % pool.size)).toDF("vec_id", "embedding")
  private val words = ("spark window merge table column vector stream value data join " +
    "filter group hash sort order query scan batch").split(" ")
  private def textBatch(i: Int): DataFrame = (0 until 8).map { j =>
    (i * 8L + j, s"${words((i * 7 + j) % words.length)} ${words((i * 3 + j * 5) % words.length)}")
  }.toDF("query_id", "text")

  private def describe(dir: String): Map[String, (Long, Long)] =
    Graft.describeIndex(spark, dir, deep = true).collect()
      .map(r => r.getAs[String]("table") -> (r.getAs[Long]("n_rows"), r.getAs[Long]("n_files"))).toMap

  private var root = ""

  /** One write iteration, into a fresh directory under `tag`. */
  private def lifecycle(tag: String, check: Boolean): Unit = {
    root = Paths.get(c.workDir, tag).toString
    val dir = s"$root/ivf"
    val idx = c.op("store", "train")(Graft.annIndex(corpus.filter(col("vec_id") % 5 =!= 0)))
    c.op("store", "save")(idx.save(dir))
    // vec_id % 5 == 0 arrives as two shards, each its own directory
    c.op("store", "shard")(idx.shard(s"$root/s1", corpus.filter(col("vec_id") % 10 === 0)))
    c.op("store", "shard")(idx.shard(s"$root/s2", corpus.filter(col("vec_id") % 10 === 5)))
    c.op("store", "merge")(Graft.mergeIndex(spark, dir, s"$root/s1"))
    c.op("store", "merge")(Graft.mergeIndex(spark, dir, s"$root/s2"))
    val merged = if (check) describe(dir) else Map.empty[String, (Long, Long)]
    (0 until AppendChunks).foreach { j =>
      c.op("store", "append")(idx.appendDurable(dir, late.filter(col("vec_id") % AppendChunks === j)))
    }
    val before = if (check) describe(dir) else Map.empty[String, (Long, Long)]
    c.op("store", "compact")(Graft.compactIndex(spark, dir))
    val after = c.op("store", "describe")(describe(dir))
    val bdir = s"$root/bm25"
    val bm = c.op("store", "bm25_build")(Graft.bm25Index(docs))
    c.op("store", "bm25_save")(bm.save(bdir))
    c.op("store", "bm25_append")(bm.appendDurable(bdir, lateDocs))
    if (check) {
      c.check("rows exact after merge")(merged("assigned")._1 == n)
      c.check("rows exact after append")(before("assigned")._1 == n + nLate)
      c.check("rows exact after compact")(after("assigned")._1 == n + nLate)
      c.check("compaction reduces the file count")(after("assigned")._2 < before("assigned")._2)
      c.check("describeIndex(deep) is clean")(!after.contains("_write_lock") &&
        after.forall { case (t, (rows, _)) => !t.startsWith("_") || rows == 0 })
      c.check("bm25 rows exact after append")(describe(bdir)("doclen")._1 == nDocs)
      c.layer("store.files_before_compact") = before("assigned")._2.toDouble
      c.layer("store.files_after_compact") = after("assigned")._2.toDouble
      c.layer("store.bytes_per_input_byte") = Files2.bytes(dir).toDouble / inputBytes
    }
  }

  /** Nothing: the headline pass in set-up already paid the JVM's
    * first-job costs.
    */
  def warm(): Unit = ()

  def write(i: Int): Unit = {
    if (root.nonEmpty) Files2.rmrf(root)
    lifecycle(s"w$i", check = i == 0)
  }

  private var recall = -1.0

  def read(i: Int): Unit = {
    val ivf = c.op("store", "load")(Graft.loadAnnIndex(spark, s"$root/ivf"))
    (0 until IvfBatches).foreach { b =>
      val qb = i * IvfBatches + b
      val hits = c.op("store", "search")(ivf.search(batch(qb), probes = 2, k = K).collect())
      if (i == 0 && b == 0) {
        val all = corpus.unionByName(late).select("vec_id", "embedding")
        val exact = Graft.knn(all, batch(qb), k = K)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
        val got = hits.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
        recall = got.intersect(exact).size.toDouble / exact.size
        c.check(s"IVF recall@$K >= $RecallFloor")(recall >= RecallFloor)
      }
    }
    val bm = c.op("store", "bm25_load")(Graft.loadBm25Index(spark, s"$root/bm25"))
    (0 until Bm25Batches).foreach { b =>
      val r: Array[Row] = c.op("store", "bm25_search")(bm.searchText(textBatch(i * Bm25Batches + b), k = 5).collect())
      if (i == 0 && b == 0)
        c.check("bm25 answers every query")(r.map(_.getAs[Long]("query_id")).toSet.size == 8)
    }
  }

  def finish(): Unit = if (c.tracer.enabled) {
    val l = c.layer
    Seq("train", "save", "load", "compact", "describe", "bm25_build", "bm25_save", "bm25_append",
      "bm25_load").foreach(op => l(s"store.${op}_s") = c.median(op))
    l("store.shard_s") = c.median("shard") * 2
    l("store.merge_s") = c.median("merge") * 2
    l("store.append_s") = c.median("append") * AppendChunks
    l("store.build_s") = l("store.train_s") + l("store.save_s") + l("store.shard_s") + l("store.merge_s")
    l("store.append_rows_per_s") = nLate / l("store.append_s")
    l("store.ivf_search_p50_s") = c.median("search")
    l("store.bm25_search_p50_s") = c.median("bm25_search")
    l("store.search_bytes_read") = c.countersOf("search").input.toDouble / c.count("search")
    l("store.recall") = recall
  }
}
