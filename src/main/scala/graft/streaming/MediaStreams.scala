package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming multimodal transforms — the at-ingest counterparts of the
  * batch mm* operators.
  */
object MediaStreams {

  final case class Media(media_id: Long, ts: Timestamp, payload: Array[Byte])

  /** AT-INGEST image dedup — mm07 as a stream: every arriving image is
    * screened against the (small, static, broadcast) perceptual-hash
    * index of the existing corpus before it can be admitted. Each
    * micro-batch decodes and hashes its own payloads with the exact
    * gated aHash ([[graft.operators.MultimodalQueries.aHash]] — shared
    * code, so stream and batch hash identically by construction), then
    * runs the gated banded screen (`phashScreen`: 5-band 13/12-bit chunk LSH
    * candidates against the broadcast index, exact Hamming ≤ 4
    * verify). No stream state; pixels never leave the arriving batch's
    * partitions — only 8-byte hashes meet the index. `index` is a
    * (media_id, lo, hi) frame the caller builds once (and should
    * cache); MediaStreamsSpec proves the union of micro-batch outputs
    * equals the batch mm07 gate's cross-pairs between the streamed and
    * indexed halves of the corpus. At scale the per-batch cost is one
    * decode pass over the batch plus a broadcast join — the mm07
    * deployment shape with the quadratic self-join replaced by a
    * fixed-index probe.
    */
  def imageDedupScreen(media: Dataset[Media], index: DataFrame)
                      (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    media.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Media], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val hashed = batch
          .mapPartitions(_.map { m =>
            val (lo, hi) = graft.operators.MultimodalQueries.aHash(m.payload)
            (m.media_id, lo, hi)
          })
          .toDF("media_id", "lo", "hi")
        onBatch(graft.operators.MultimodalQueries.phashScreen(hashed, index))
      }
      .start()
  }

  /** AT-INGEST audio dedup — mm08 as a stream, [[imageDedupScreen]]'s
    * shape for the audio modality: each micro-batch decodes and
    * fingerprints its own WAV payloads with the exact gated
    * [[graft.operators.MultimodalQueries.audioFp]] (shared code, so
    * stream and batch fingerprint identically by construction), then
    * runs the gated banded screen against the (small, static,
    * broadcast) fingerprint index. No stream state; samples never
    * leave the arriving batch's partitions — only 8-byte (lo, hi)
    * fingerprints meet the index. `index` is a (media_id, lo, hi)
    * frame. MediaStreamsSpec proves the union of micro-batch outputs
    * equals the batch mm08 gate's cross-pairs between the streamed and
    * indexed halves.
    */
  def audioDedupScreen(media: Dataset[Media], index: DataFrame)
                      (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    media.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Media], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val fps = batch
          .mapPartitions(_.map { m =>
            val (lo, hi) =
              graft.operators.MultimodalQueries.audioFp(m.payload)
            (m.media_id, lo, hi)
          })
          .toDF("media_id", "lo", "hi")
        onBatch(graft.operators.MultimodalQueries.phashScreen(fps, index))
      }
      .start()
  }

  /** AT-INGEST video dedup — mm09 as a stream, [[imageDedupScreen]]'s
    * shape for the video modality with the temporally-aligned rule:
    * each micro-batch decodes its own GIF payloads and hashes every
    * frame with the exact gated kernel
    * ([[graft.operators.MultimodalQueries.videoFrameHashesOf]] —
    * shared code, so stream and batch hash identically by
    * construction), then runs the gated screen (`videoScreen`:
    * position-keyed band candidates against the broadcast index of
    * existing per-frame hashes, a pair admitted only when EVERY
    * aligned frame position sits at Hamming ≤ 4). No stream state;
    * pixels never leave the arriving batch's partitions — only 8-byte
    * per-frame hashes meet the index. `index` is a (media_id,
    * frame_no, n_frames, lo, hi) frame. MediaStreamsSpec proves the
    * union of micro-batch outputs equals the batch mm09 gate's
    * cross-pairs between the streamed and indexed halves.
    */
  def videoDedupScreen(media: Dataset[Media], index: DataFrame)
                      (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    media.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Media], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val frames = batch
          .mapPartitions(_.flatMap { m =>
            graft.operators.MultimodalQueries.videoFrameHashesOf(m.payload)
              .map { case (f, k, lo, hi) => (m.media_id, f, k, lo, hi) }
          })
          .toDF("media_id", "frame_no", "n_frames", "lo", "hi")
        onBatch(graft.operators.MultimodalQueries.videoScreen(frames, index))
      }
      .start()
  }
}
