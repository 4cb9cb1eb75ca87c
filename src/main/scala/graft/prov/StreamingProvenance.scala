package graft.prov

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.streaming.EventStreams.Event

/** Watermark-bounded streaming lineage — a capability the reference does
  * not have (its streaming layer is stock DStreams with no provenance,
  * SURVEY §1.3/§2.10). Design: per-RECORD deps across a stream are
  * unbounded state, so the scalable unit of streaming provenance is the
  * MICRO-BATCH — each triggered batch commits its updated aggregate rows
  * as elements depending on a synthetic batch element. The store then
  * answers "which batches fed this window aggregate", and state stays
  * O(1) per batch: exactly the boundedness the watermark guarantees for
  * the aggregation itself.
  *
  * Elements are committed from inside foreachBatch into the same
  * path-embedded partition layout as [[ProvSession.flush]], so all §3.3
  * provenance queries work unchanged over streaming elements.
  */
object StreamingProvenance {

  /** Keyed state for [[trackedRecords]]: lifetime totals plus the
    * (event_id, ts-millis) of contributing records still inside the
    * watermark horizon — the bounded window of per-record lineage.
    */
  final case class RecordTrackState(n: Long, total: Double,
                                    recs: Seq[(Long, Long)])

  /** One per-key update emitted by [[trackedRecords]]: the running
    * aggregate, the record ids NEW in this trigger (minted as elements),
    * and the full in-horizon dep set.
    */
  final case class RecordAggUpdate(user_id: Long, n_events: Long,
                                   sum_value: Double, new_ids: Seq[Long],
                                   dep_ids: Seq[Long])

  /** Wrap a streaming aggregate in per-micro-batch provenance capture.
    *
    * @param session     open provenance session (its store receives rows)
    * @param agg         a streaming aggregate DataFrame (e.g.
    *                    EventStreams.hourlyCounts of a readStream)
    * @param queryName   task description in the provenance DAG
    * @return a writer in Update mode; caller starts/stops it
    */
  def tracked(session: ProvSession, agg: DataFrame,
              queryName: String = "streaming_agg"): DataStreamWriter[Row] = {
    val task = session.newTask(TransformationType.MAP, Nil,
      s"streaming: $queryName")
    // elements are committed per micro-batch below, not at flush
    task.schemaFields = agg.schema.fieldNames.toSeq
    val execId = session.executionId
    val tid = task.id
    val store = session.storeDir
    val capture = session.captureEnabled
    agg.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (capture && !batch.isEmpty)
          commitBatch(store, execId, tid, batchId,
            trackedRows(execId, tid, batch, batchId))
      }
  }

  /** One [[tracked]] micro-batch's element rows: a root element for the
    * batch plus one element per updated row, depending on it. EVERY id
    * is deterministic in (execution, task, batchId, row values), so a
    * replayed batch re-mints the same rows and [[commitBatch]] replaces
    * them.
    */
  private[prov] def trackedRows(execId: String, tid: String, batch: DataFrame,
                                batchId: Long): Dataset[ElementRow] = {
    val batchEl = ProvSinkUtil.elementId(execId, tid, s"batch_$batchId")
    val cols = batch.schema.fieldNames.toSeq
    // `occ` disambiguates value-identical rows WITHIN the batch: ids
    // fold in a per-value occurrence index, so two distinct rows with
    // equal values stay two elements — multiplicity survives even for
    // non-aggregated sinks. The index assignment order is arbitrary, but
    // a replayed batch re-mints the same id SET (occurrences 0..k-1 of
    // each value), so idempotence holds.
    val occWindow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vs")).orderBy(monotonically_increasing_id())
    val els = batch
      .select(array(cols.map(c => col(c).cast("string")): _*).as("vs"))
      .withColumn("occ", row_number().over(occWindow) - 1)
      .as(Encoders.product[(Seq[String], Int)])
      .map { case (vs, occ) =>
        val id = ProvSinkUtil.elementId(execId, tid,
          s"batch_${batchId}_row_${occ}_${vs.mkString("\u0001")}")
        ElementRow(execId, tid, id, Seq(vs), Seq(batchEl))
      }(ProvSession.elementRowEnc)
    val batchRow = batch.sparkSession.createDataset(Seq(ElementRow(
      execId, tid, batchEl, Seq(Seq(s"batch_$batchId")),
      Seq.empty[String])))(ProvSession.elementRowEnc)
    els.unionByName(batchRow)
  }

  /** Write one micro-batch's element rows idempotently. foreachBatch is
    * at-least-once, so the rows are staged and then committed under the
    * batch's deterministic file names ([[ElementSideWriter.commitBatch]]):
    * a replay replaces the batch's files, and element ids stay unique in
    * the store without any read-side dedup.
    */
  private[prov] def commitBatch(store: String, execId: String, tid: String,
                                batchId: Long, rows: Dataset[ElementRow]): Unit = {
    rows.drop("execution_id").write.mode("overwrite")
      .parquet(ElementSideWriter.batchStagingDir(store, execId, tid, batchId))
    ElementSideWriter.commitBatch(store, execId, tid, batchId,
      rows.sparkSession.sparkContext.hadoopConfiguration)
  }

  /** Opt-in RECORD-level streaming lineage, bounded by the watermark
    * horizon — the element-granularity parity option the batch layer
    * has, for streams where per-record provenance is worth its state.
    *
    * Per-record deps across an unbounded stream are unbounded state, so
    * the contract is the same one the engine's streaming dedup/joins
    * make: per-key state holds the contributing record ids whose event
    * time is still within `horizonMinutes` of the watermark, evicted as
    * the watermark advances (EventTimeTimeout removes idle keys
    * entirely). Each trigger emits the running per-user aggregate with
    * deps = the IN-HORIZON contributing records; each new input record
    * becomes its own element. All ids are deterministic in
    * (execution, task, event_id / user_id+batchId), so an at-least-once
    * replay re-mints its batch's rows and [[commitBatch]] replaces them
    * — the same idempotence argument as [[tracked]]. A record id is
    * unique per event_id, the stream's key (as the key columns are for
    * relational frames). State per key: one aggregate + O(records per horizon)
    * ids — exactly the boundedness the watermark already guarantees the
    * aggregation.
    */
  def trackedRecords(session: ProvSession, events: Dataset[Event],
                     horizonMinutes: Int = 10,
                     queryName: String = "streaming_records"): DataStreamWriter[RecordAggUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val task = session.newTask(TransformationType.MAP, Nil,
      s"streaming_records: $queryName")
    task.schemaFields = Seq("user_id", "n_events", "sum_value")
    val execId = session.executionId
    val tid = task.id
    val store = session.storeDir
    val capture = session.captureEnabled
    val horizonMs = horizonMinutes * 60000L

    val updates = events
      .withWatermark("ts", s"$horizonMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RecordTrackState, RecordAggUpdate](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[RecordTrackState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val recs = batch.toSeq
            val prev = state.getOption.getOrElse(RecordTrackState(0L, 0.0, Nil))
            val wm = state.getCurrentWatermarkMs()
            val kept = (prev.recs ++ recs.map(e => (e.event_id, e.ts.getTime)))
              .filter(_._2 >= wm)
            val n = prev.n + recs.size
            val total = prev.total + recs.map(_.value).sum
            state.update(RecordTrackState(n, total, kept))
            val horizonEnd = kept.map(_._2).maxOption.getOrElse(wm) + horizonMs
            state.setTimeoutTimestamp(math.max(horizonEnd, wm + 1))
            Iterator.single(RecordAggUpdate(uid, n,
              math.round(total * 100).toDouble / 100,
              recs.map(_.event_id), kept.map(_._1).sorted))
          }
      }

    updates.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[RecordAggUpdate], batchId: Long) =>
        if (capture && !batch.isEmpty) {
          val els = batch.flatMap { u =>
            val recEls = u.new_ids.map { rid =>
              ElementRow(execId, tid,
                ProvSinkUtil.elementId(execId, tid, s"rec_$rid"),
                Seq(Seq(rid.toString, u.user_id.toString)), Seq.empty[String])
            }
            val aggEl = ElementRow(execId, tid,
              ProvSinkUtil.elementId(execId, tid,
                s"agg_${u.user_id}_batch_$batchId"),
              Seq(Seq(u.user_id.toString, u.n_events.toString,
                u.sum_value.toString)),
              u.dep_ids.map(rid =>
                ProvSinkUtil.elementId(execId, tid, s"rec_$rid")))
            recEls :+ aggEl
          }(ProvSession.elementRowEnc)
          commitBatch(store, execId, tid, batchId, els)
        }
      }
  }
}
