package graft.prov

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Streaming lineage: each micro-batch's updated aggregates land in the
  * provenance store depending on that batch's synthetic element, and the
  * standard provenance queries see them.
  */
class StreamingProvenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-prov-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ev(id: Long, hour: Int, tpe: String): Event =
    Event(id, Timestamp.valueOf(f"2026-01-01 $hour%02d:15:00"), id % 7, tpe, 1.5)

  test("micro-batch aggregates append as elements depending on their batch") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Files.createTempDirectory("streamprov").toString
    val s = ProvSession.create(spark, "stream", store)

    val stream = MemoryStream[Event]
    val q = StreamingProvenance
      .tracked(s, EventStreams.hourlyCounts(stream.toDF()), "hourly")
      .start()
    stream.addData(Seq(ev(1, 9, "click"), ev(2, 9, "click"), ev(3, 10, "view")))
    q.processAllAvailable()
    stream.addData(Seq(ev(4, 10, "view")))
    q.processAllAvailable()
    q.stop()
    s.close()

    val els = spark.read.parquet(s"$store/data_elements")
      .filter($"execution_id" === s.executionId).collect()
      .map(r => (r.getAs[String]("element_id"),
        r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("values").map(_.toSeq).toSeq,
        r.getAs[scala.collection.Seq[String]]("deps").toSeq))
    // batch elements: roots named batch_<id>; aggregate elements depend
    // on exactly their batch's element
    val (batchEls, aggEls) = els.partition(_._2.flatten.exists(_.startsWith("batch_")))
    assert(batchEls.map(_._2.flatten.head).toSet.contains("batch_0"))
    assert(aggEls.nonEmpty)
    val batchIds = batchEls.map(_._1).toSet
    assert(aggEls.forall(e => e._3.length == 1 && batchIds.contains(e._3.head)))
    // the 9-o'clock click window carries n=2 in some batch's update
    assert(aggEls.exists(_._2.head.containsSlice(Seq("click", "2"))))
    // the streaming task is in the DAG
    assert(s.allTasks.exists(_.description == "streaming: hourly"))
  }

  test("record-level lineage: per-record deps accumulate across two batches within the horizon") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Files.createTempDirectory("streamprovrec").toString
    val s = ProvSession.create(spark, "stream-rec", store)

    def rec(id: Long, minute: Int, uid: Long): Event =
      Event(id, Timestamp.valueOf(f"2026-01-01 09:$minute%02d:00"), uid, "click", 1.0)

    val stream = MemoryStream[Event]
    val q = StreamingProvenance
      .trackedRecords(s, stream.toDS(), horizonMinutes = 10, "per-record")
      .start()
    // batch 0: user 1 gets records 11, 12 (1 minute apart)
    stream.addData(Seq(rec(11L, 0, 1L), rec(12L, 1, 1L)))
    q.processAllAvailable()
    // batch 1: record 13 arrives 2 minutes later — records 11/12 are
    // still inside the 10-minute horizon, so the updated aggregate must
    // depend on ALL THREE records, across both MemoryStream batches
    stream.addData(Seq(rec(13L, 3, 1L)))
    q.processAllAvailable()
    q.stop()
    s.close()

    val els = spark.read.parquet(s"$store/data_elements")
      .filter($"execution_id" === s.executionId).collect()
      .map(r => (r.getAs[String]("element_id"),
        r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("values").map(_.toSeq).toSeq,
        r.getAs[scala.collection.Seq[String]]("deps").toSeq))

    def recId(rid: Long) =
      els.find(_._2 == Seq(Seq(rid.toString, "1"))).map(_._1)
    val ids = Seq(11L, 12L, 13L).map(recId)
    assert(ids.forall(_.isDefined), s"missing record elements in $els")

    // the batch-0 aggregate (n=2) depends on exactly records 11 and 12
    val agg0 = els.find(_._2 == Seq(Seq("1", "2", "2.0")))
    assert(agg0.isDefined, s"no n=2 aggregate element in $els")
    assert(agg0.get._3.toSet === Set(ids(0).get, ids(1).get))
    // the batch-1 aggregate (n=3) depends on records from BOTH batches
    val agg1 = els.find(_._2 == Seq(Seq("1", "3", "3.0")))
    assert(agg1.isDefined, s"no n=3 aggregate element in $els")
    assert(agg1.get._3.toSet === ids.flatten.toSet)

    assert(s.allTasks.exists(_.description == "streaming_records: per-record"))
  }

  test("a micro-batch committed twice with the same batchId leaves one copy of its rows") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Files.createTempDirectory("streamprovreplay").toString
    val s = ProvSession.create(spark, "stream-replay", store)
    val stream = MemoryStream[Event]
    val q = StreamingProvenance
      .tracked(s, EventStreams.hourlyCounts(stream.toDF()), "hourly")
      .start()
    val batch0 = Seq(ev(1, 9, "click"), ev(2, 9, "click"), ev(3, 10, "view"))
    stream.addData(batch0)
    q.processAllAvailable()
    stream.addData(Seq(ev(4, 10, "view")))
    q.processAllAvailable()
    q.stop()
    s.close()

    val pq = new ProvenanceQueries(spark, store)
    val exec = s.executionId
    def snapshot() = (pq.elements(exec).count(),
      pq.elements(exec).select("element_id").distinct().count(),
      pq.graphSummary(exec).collect().toSeq)
    val before = snapshot()
    assert(before._1 == before._2, "an element id appears twice")
    // replay batch 0 as foreachBatch would after a crash before its
    // commit: the same rows under the same batchId
    val tid = s.allTasks.find(_.description == "streaming: hourly").get.id
    val replayed = EventStreams.hourlyCounts(batch0.toDF())
    StreamingProvenance.commitBatch(store, exec, tid, 0L,
      StreamingProvenance.trackedRows(exec, tid, replayed, 0L))
    assert(snapshot() == before)
    val committed = new java.io.File(s"$store/data_elements/execution_id=$exec")
      .list().filter(_.startsWith(s"stream-$tid-b0-"))
    assert(committed.nonEmpty && committed.forall(_.endsWith(".parquet")))
  }
}
