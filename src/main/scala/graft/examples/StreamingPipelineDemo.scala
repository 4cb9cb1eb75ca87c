package graft.examples

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.streaming.DocStreams
import graft.streaming.DocStreams.Doc

/** The AT-INGEST counterpart of [[PipelineDemo]]: the corpus arrives as
  * an unbounded stream and every admission decision is made per
  * micro-batch against batch-built, broadcastable model artifacts —
  * the benchmark decontamination index (d15's), the hashed quality
  * classifier (t21's weights), and the DSIR importance models (t20's)
  * — using the SAME gated code paths their stream ≡ batch specs
  * certify. This main replays the sf corpus through a MemoryStream in
  * four batches and prints the admission funnel a streaming ingest
  * service would log.
  *
  * Run: sbt "runMain graft.examples.StreamingPipelineDemo [sfDir]"
  */
object StreamingPipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSpark.session(8, "streaming-pipeline-demo")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // ---- batch-built model artifacts (the slowly-changing side) ----
    val bench = graft.operators.DedupQueries.d15Sigs(
      graft.operators.DedupQueries.shingleArrays(spark, sfDir))
      .filter($"doc_id" % 10 === 0).cache()
    val (logRatio, unseenLr) =
      graft.operators.TextAnalysisQueries.dsirModels(spark, sfDir)

    // ---- the arriving corpus, split into micro-batches ----
    val ts = Timestamp.valueOf("2026-01-01 09:00:00")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter($"doc_id" % 10 =!= 0) // the training side; eval docs are the index
      .select($"doc_id", $"text").collect()
      .map(r => Doc(r.getLong(0), ts, r.getString(1)))
    val batches = docs.grouped(math.max(1, docs.length / 4)).toSeq

    // ---- stage 1: decontamination screen (d15 at ingest) ----
    val contaminated = scala.collection.mutable.Set[Long]()
    val stream1 = MemoryStream[Doc]
    val q1 = DocStreams.decontaminate(stream1.toDS(), bench) { hits =>
      val ids = hits.select($"train_id").distinct().as[Long].collect()
      contaminated.synchronized { contaminated ++= ids }
    }
    batches.foreach { b => stream1.addData(b); q1.processAllAvailable() }
    q1.stop()

    // ---- stages 2+3: quality-classifier gate + DSIR weighting ----
    // Both scorers are per-row projections, so the combine happens
    // BATCH-side inside foreachBatch (like the decontamination stage):
    // joining two streaming reads of the same source would be a
    // stream-stream join, which Spark plans as a STATEFUL join whose
    // state grows without bound absent a watermark — exactly the shape
    // an ingest service must not deploy.
    val kept = scala.collection.mutable.ArrayBuffer[(Long, Boolean, Double)]()
    val stream2 = MemoryStream[Doc]
    val q2 = stream2.toDS().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Doc], _: Long) =>
        val rows = DocStreams.qualityScore(batch)
          .join(DocStreams.dsirScore(batch, logRatio, unseenLr)
            .select($"doc_id".as("d2"), $"dsir_logweight"),
            $"doc_id" === $"d2")
          .select($"doc_id", $"keep", $"dsir_logweight").collect()
        kept.synchronized {
          rows.foreach(r => kept += ((r.getAs[Long]("doc_id"),
            r.getAs[Boolean]("keep"),
            r.getAs[Float]("dsir_logweight").toDouble)))
        }
      }.start()
    batches.foreach { b => stream2.addData(b); q2.processAllAvailable() }
    q2.stop()

    val admitted = kept.filter(k => k._2 && !contaminated(k._1))
    println(s"""
      |=== streaming ingest report ($sfDir, ${batches.length} micro-batches) ===
      |arriving documents:            ${docs.length}
      |flagged by decontamination:    ${contaminated.size}
      |pass quality classifier:       ${kept.count(_._2)}
      |ADMITTED (clean AND quality):  ${admitted.size}
      |mean DSIR log-weight admitted: ${
        if (admitted.nonEmpty)
          f"${admitted.map(_._3).sum / admitted.size}%.4f" else "n/a"}
      |""".stripMargin)
    bench.unpersist()
    spark.stop()
  }
}
