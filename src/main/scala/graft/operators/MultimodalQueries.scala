package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import PairCandidates._

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded/featurized in batched per-partition passes.
  *
  * mm02's decode is REAL: executors encode deterministic images to PNG
  * bytes with `javax.imageio` (JDK-only, headless-safe), then decode
  * those opaque binary payloads back and extract width/height/
  * per-channel pixel means from the DECODED pixels. The oracle
  * recomputes the expected stats independently from the generation
  * formula — a broken encode or decode fails the hash gate. mm03 does
  * the same for FRAMES: the JDK has no video codec, but its GIF
  * reader/writer handle real multi-frame containers, so per-frame
  * extraction is a genuine container decode (frame count, indexing, and
  * pixels all come from the decoder), gated the same way.
  */
object MultimodalQueries {

  /** The id column every media pipeline synthesizes payloads from,
    * spread across ALL cores first: payload synthesis + codec decode
    * are the expensive per-row work of this family, and a narrow scan
    * (one small parquet file at bench scale, one unsplittable input
    * generally) would pin that work to a handful of tasks while the
    * rest of the machine idles (guide §2.6). The repartition moves
    * 8-byte ids — never payloads or pixels — so its cost is negligible
    * at any scale (the §8 rule: shuffle keys, move heavy bytes once),
    * and decode parallelism stops being an accident of input splits.
    * Round-16 profile: mm06 ran 2.7 s of decode task time on 4 of 32
    * cores (wall 2.9 s) before; ~0.8 s wall after.
    */
  private def mediaIds(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Long] = {
    val spark = s
    import spark.implicits._
    // conditional like QueryDef.scaleOut (round 17): only widen a scan
    // NARROWER than the machine — an input already wider than the
    // core count passes through untouched (no narrowing exchange, the
    // no-op-at-production-scale property the scaleOut comment
    // establishes for the same pattern)
    QueryDef.scaleOut(Tables.documents(s, d).select(col("doc_id")))
      .as[Long]
  }

  /** ImageIO's stream cache defaults to DISK-backed
    * (`FileCacheImageInput/OutputStream`): every encode/decode creates
    * a temp file under a synchronized cache-dir check, which
    * serializes concurrent codec tasks on one machine — with 32 decode
    * tasks in flight the codec work waits on temp-file creation, not
    * pixels. All payloads here are in-memory byte arrays, so the
    * memory-backed stream is strictly better; evaluated once per JVM
    * (referenced from every encode/decode entry point).
    */
  private lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic test image for `media_id`: W×H TYPE_INT_RGB with
    * channel values r=(id+3x+5y)%256, g=(2id+7x+11y)%256,
    * b=(3id+13x+17y)%256 — closed-form, so expected decode stats are
    * recomputable in pure SQL. Stands in for reading a binary media
    * column from storage; everything downstream treats the bytes as
    * opaque.
    */
  private[graft] def syntheticPng(id: Long): Array[Byte] = {
    imageIoNoDiskCache
    val w = 8 + (id % 24).toInt
    val h = 8 + ((id * 7) % 24).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id + 3L * x + 5L * y) % 256).toInt
        val g = ((2L * id + 7L * x + 11L * y) % 256).toInt
        val b = ((3L * id + 13L * x + 17L * y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Build the media table: payload BINARY + STRUCT<format,n_bytes>
    * metadata (documents' text bytes stand in for image payloads).
    */
  val mm01MediaTable = QueryDef(
    "mm01_media_table",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("payload"),
          struct(lit("fake/png").as("format"),
                 length(col("text")).cast("long").as("n_bytes")).as("meta"))
        .select(col("media_id"), length(col("payload")).cast("long").as("payload_len"),
          col("meta.format").as("format"), col("meta.n_bytes").as("n_bytes"))
        .orderBy(col("media_id"))
    },
    Some("""SELECT doc_id AS media_id,
           |  octet_length(encode(text)) AS payload_len,
           |  'fake/png' AS format, length(text) AS n_bytes
           |FROM documents ORDER BY media_id""".stripMargin))

  /** Batched decode + featurize with a REAL codec: stage 1 materializes
    * opaque PNG payloads as a binary column (see [[syntheticPng]] — the
    * stand-in for a binary media column read from storage); stage 2
    * `mapPartitions` over (id, payload) batches — the same batch shape a
    * mapInPandas decode uses — runs `javax.imageio.ImageIO.read` on each
    * payload and extracts width/height/per-channel means from the
    * decoded pixel grid. PNG is lossless and the generator is
    * closed-form, so the oracle recomputes every expected value from the
    * formula alone: any encode/decode defect breaks the hash match.
    * Sums are exact integers (≤ 31×31×255 < 2^53), so DOUBLE division
    * is bit-identical across engines — no rounding tricks needed.
    */
  val mm02DecodeFeatures = QueryDef(
    "mm02_decode_features",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, d)
        .mapPartitions(_.map(id => (id, syntheticPng(id))))
        .toDF("media_id", "payload")
        .as[(Long, Array[Byte])]
      media.mapPartitions { batch =>
        imageIoNoDiskCache
        batch.map { case (id, payload) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))
          val w = img.getWidth
          val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xFF
              sg += (rgb >> 8) & 0xFF
              sb += rgb & 0xFF
              x += 1
            }
            y += 1
          }
          val n = (w * h).toDouble
          (id, w, h, sr / n, sg / n, sb / n)
        }
      }.toDF("media_id", "width", "height", "mean_r", "mean_g", "mean_b")
        .orderBy(col("media_id"))
    },
    // independent recomputation from the generation formula — never from
    // the payload bytes the Spark side decodes
    Some("""WITH base AS (
           |  SELECT doc_id AS media_id,
           |         8 + (doc_id % 24) AS w,
           |         8 + ((doc_id * 7) % 24) AS h
           |  FROM documents),
           |px AS (
           |  SELECT media_id, w, h,
           |         (media_id + 3 * x + 5 * y) % 256 AS r,
           |         (2 * media_id + 7 * x + 11 * y) % 256 AS g,
           |         (3 * media_id + 13 * x + 17 * y) % 256 AS b
           |  FROM base,
           |       LATERAL unnest(generate_series(0, w - 1)) AS tx(x),
           |       LATERAL unnest(generate_series(0, h - 1)) AS ty(y))
           |SELECT media_id, CAST(max(w) AS INT) AS width,
           |       CAST(max(h) AS INT) AS height,
           |       CAST(sum(r) AS DOUBLE) / (max(w) * max(h)) AS mean_r,
           |       CAST(sum(g) AS DOUBLE) / (max(w) * max(h)) AS mean_g,
           |       CAST(sum(b) AS DOUBLE) / (max(w) * max(h)) AS mean_b
           |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin))

  /** Deterministic K-frame GIF container for `media_id`: K = 2+(id%3)
    * frames of w×h 8-bit grayscale pixels v(f,x,y) =
    * (id + 7f + 3x + 5y) mod 256, written through the JDK's real GIF
    * sequence writer (`ImageWriter.writeToSequence`). Frames use an
    * explicit 256-entry gray `IndexColorModel`, so the palette round-trip
    * is lossless and every expected per-frame stat is recomputable in
    * pure SQL.
    */
  private[graft] def syntheticGif(id: Long): Array[Byte] = {
    imageIoNoDiskCache
    val k = (2 + id % 3).toInt
    val w = 6 + (id % 10).toInt
    val h = 6 + ((id * 3) % 10).toInt
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < k) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, ((id + 7L * f + 3L * x + 5L * y) % 256).toInt)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    baos.toByteArray
  }

  /** Per-frame extraction with a REAL container decode: stage 1
    * materializes opaque multi-frame GIF payloads (see [[syntheticGif]]);
    * stage 2 `mapPartitions` over (id, payload) opens a GIF
    * `ImageReader`, counts frames with `getNumImages(true)`, decodes
    * EACH frame, and emits one row per frame with the decoded
    * width/height/mean pixel value — the video-frame-extraction shape
    * (frames never leave their media row's partition; the only shuffle
    * is the final global sort for the gate). The oracle recomputes every
    * value from the generation formula alone — never from the payload —
    * so a defect anywhere in the GIF encode, frame indexing, palette
    * round-trip, or decode fails the hash match. Pixel sums are exact
    * integers (≤ 15×15×255), so DOUBLE division is bit-identical across
    * engines.
    */
  val mm03FrameSample = QueryDef(
    "mm03_frame_sample",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, d)
        .mapPartitions(_.map(id => (id, syntheticGif(id))))
        .toDF("media_id", "payload")
        .as[(Long, Array[Byte])]
      media.mapPartitions { batch =>
        imageIoNoDiskCache
        batch.flatMap { case (id, payload) =>
          val reader =
            javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            reader.setInput(iis)
            val k = reader.getNumImages(true)
            (0 until k).map { f =>
              val img = reader.read(f)
              val w = img.getWidth
              val h = img.getHeight
              var sum = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  sum += (img.getRGB(x, y) >> 16) & 0xFF
                  x += 1
                }
                y += 1
              }
              (id, f, k.toLong, w, h, sum.toDouble / (w * h))
            }
          } finally {
            reader.dispose()
            iis.close()
          }
        }
      }.toDF("media_id", "frame_no", "n_frames", "width", "height", "mean_v")
        .orderBy(col("media_id"), col("frame_no"))
    },
    // independent recomputation from the generation formula — never from
    // the payload bytes the Spark side decodes
    Some("""WITH base AS (
           |  SELECT doc_id AS media_id,
           |         2 + (doc_id % 3) AS k,
           |         6 + (doc_id % 10) AS w,
           |         6 + ((doc_id * 3) % 10) AS h
           |  FROM documents),
           |frames AS (
           |  SELECT media_id, k, w, h, unnest(generate_series(0, k - 1)) AS f
           |  FROM base),
           |px AS (
           |  SELECT media_id, f, k, w, h,
           |         (media_id + 7 * f + 3 * x + 5 * y) % 256 AS v
           |  FROM frames,
           |       LATERAL unnest(generate_series(0, w - 1)) AS tx(x),
           |       LATERAL unnest(generate_series(0, h - 1)) AS ty(y))
           |SELECT media_id, CAST(f AS INT) AS frame_no,
           |       CAST(max(k) AS BIGINT) AS n_frames,
           |       CAST(max(w) AS INT) AS width, CAST(max(h) AS INT) AS height,
           |       CAST(sum(v) AS DOUBLE) / (max(w) * max(h)) AS mean_v
           |FROM px GROUP BY media_id, f ORDER BY media_id, frame_no""".stripMargin))

  /** Deterministic 16-bit PCM mono WAV for `media_id`: n samples of the
    * integer waveform s(k) = ((id·31 + k·17) mod 2001) − 1000 at 8 kHz,
    * packaged through the JDK's real WAV writer. Closed-form, so
    * expected decode stats are recomputable in pure SQL.
    */
  private[graft] def syntheticWav(id: Long): Array[Byte] = {
    val n = (400 + (id % 100) * 4).toInt
    val pcm = new Array[Byte](n * 2)
    var k = 0
    while (k < n) {
      val s = (((id * 31 + k * 17) % 2001) - 1000).toInt
      pcm(2 * k) = (s & 0xFF).toByte
      pcm(2 * k + 1) = ((s >> 8) & 0xFF).toByte
      k += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Audio decode + featurize with a REAL codec (`javax.sound.sampled`,
    * JDK-only): WAV payloads are parsed back through
    * `AudioSystem.getAudioInputStream` — container header, format, and
    * sample stream all come from the DECODER — and per-clip stats
    * (sample count, rate, mean amplitude, peak) are computed from the
    * decoded samples. The oracle recomputes everything from the
    * waveform formula; integer sums are exact, so the DOUBLE mean is
    * bit-identical across engines. The audio mirror of [[mm02DecodeFeatures]].
    */
  val mm04AudioFeatures = QueryDef(
    "mm04_audio_features",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, d)
        .mapPartitions(_.map(id => (id, syntheticWav(id))))
        .toDF("media_id", "payload")
        .as[(Long, Array[Byte])]
      media.mapPartitions { batch =>
        imageIoNoDiskCache
        batch.map { case (id, payload) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
            s"unexpected decoded format: $fmt")
          val bytes = ais.readAllBytes()
          ais.close()
          val n = bytes.length / 2
          var sum = 0L
          var peak = 0L
          var k = 0
          while (k < n) {
            val v = (((bytes(2 * k + 1) & 0xFF) << 8) |
              (bytes(2 * k) & 0xFF)).toShort.toLong
            sum += v
            val a = math.abs(v)
            if (a > peak) peak = a
            k += 1
          }
          (id, n.toLong, fmt.getSampleRate.toInt, sum.toDouble / n, peak)
        }
      }.toDF("media_id", "n_samples", "sample_rate", "mean_amp", "peak")
        .orderBy(col("media_id"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id AS media_id, 400 + (doc_id % 100) * 4 AS n
           |  FROM documents),
           |smp AS (
           |  SELECT media_id, n,
           |         ((media_id * 31 + k * 17) % 2001) - 1000 AS s
           |  FROM base, LATERAL unnest(generate_series(0, n - 1)) AS t(k))
           |SELECT media_id, CAST(max(n) AS BIGINT) AS n_samples,
           |       CAST(8000 AS INT) AS sample_rate,
           |       CAST(sum(s) AS DOUBLE) / max(n) AS mean_amp,
           |       CAST(max(abs(s)) AS BIGINT) AS peak
           |FROM smp GROUP BY media_id ORDER BY media_id""".stripMargin))

  /** Decode + RESIZE: each PNG payload is decoded with the real codec,
    * then 2× nearest-neighbor downsampled — out(x', y') = in(2x', 2y'),
    * the explicit index mapping that IS nearest-neighbor decimation
    * (spelled out rather than routed through AffineTransformOp, whose
    * sub-pixel rounding is implementation-defined and would make the
    * gate engine-dependent) — and per-channel means of the RESIZED
    * image are emitted. The oracle recomputes from the generation
    * formula at even coordinates only, so a defect in decode, the
    * coordinate mapping, or the output dimensions fails the hash.
    * Completes the brief's multimodal quartet: decode (mm02), resize
    * (mm05), frame-sample (mm03), audio (mm04). Same batched
    * per-partition shape as the rest — scales as a linear pass.
    */
  val mm05ResizeFeatures = QueryDef(
    "mm05_resize_features",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, d)
        .mapPartitions(_.map(id => (id, syntheticPng(id))))
        .toDF("media_id", "payload")
        .as[(Long, Array[Byte])]
      media.mapPartitions { batch =>
        imageIoNoDiskCache
        batch.map { case (id, payload) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))
          val ow = (img.getWidth + 1) / 2
          val oh = (img.getHeight + 1) / 2
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < oh) {
            var x = 0
            while (x < ow) {
              val rgb = img.getRGB(2 * x, 2 * y)
              sr += (rgb >> 16) & 0xFF
              sg += (rgb >> 8) & 0xFF
              sb += rgb & 0xFF
              x += 1
            }
            y += 1
          }
          val n = (ow * oh).toDouble
          (id, ow, oh, sr / n, sg / n, sb / n)
        }
      }.toDF("media_id", "out_w", "out_h", "mean_r", "mean_g", "mean_b")
        .orderBy(col("media_id"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id AS media_id,
           |         8 + (doc_id % 24) AS w,
           |         8 + ((doc_id * 7) % 24) AS h
           |  FROM documents),
           |dims AS (
           |  SELECT media_id, w, h,
           |         CAST((w + 1) // 2 AS INT) AS ow,
           |         CAST((h + 1) // 2 AS INT) AS oh
           |  FROM base),
           |px AS (
           |  SELECT media_id, ow, oh,
           |         (media_id + 3 * (2 * x) + 5 * (2 * y)) % 256 AS r,
           |         (2 * media_id + 7 * (2 * x) + 11 * (2 * y)) % 256 AS g,
           |         (3 * media_id + 13 * (2 * x) + 17 * (2 * y)) % 256 AS b
           |  FROM dims,
           |       LATERAL unnest(generate_series(0, ow - 1)) AS tx(x),
           |       LATERAL unnest(generate_series(0, oh - 1)) AS ty(y))
           |SELECT media_id, max(ow) AS out_w, max(oh) AS out_h,
           |       CAST(sum(r) AS DOUBLE) / (max(ow) * max(oh)) AS mean_r,
           |       CAST(sum(g) AS DOUBLE) / (max(ow) * max(oh)) AS mean_g,
           |       CAST(sum(b) AS DOUBLE) / (max(ow) * max(oh)) AS mean_b
           |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin))

  /** Shot-boundary detection over REAL decoded frames: consecutive-frame
    * mean absolute pixel difference (MAD), the classic cut detector and
    * the first temporal-video-analysis step a video training pipeline
    * runs (sampling around cuts, dropping static spans). Stage 1
    * materializes the mm03 GIF payloads; stage 2 decodes each frame
    * through the real GIF reader and diffs it against the PREVIOUS
    * decoded frame inside the row's partition — per-media temporal state
    * never crosses rows, so there is no shuffle until the gate's output
    * sort. The oracle recomputes every MAD from the generation formula
    * alone (per-pixel |Δ| is 7 except at the mod-256 wraparound where it
    * is 249, so the mean splits the per-id populations around the cut
    * threshold); pixel-diff sums are exact integers, making the DOUBLE
    * division bit-identical across engines.
    */
  val mm06ShotBoundaries = QueryDef(
    "mm06_shot_boundaries",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val media = mediaIds(s, d)
        .mapPartitions(_.map(id => (id, syntheticGif(id))))
        .toDF("media_id", "payload")
        .as[(Long, Array[Byte])]
      media.mapPartitions { batch =>
        imageIoNoDiskCache
        batch.flatMap { case (id, payload) =>
          val reader =
            javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
          reader.setInput(iis)
          val k = reader.getNumImages(true)
          def gray(f: Int): (Int, Int, Array[Int]) = {
            val img = reader.read(f)
            val w = img.getWidth
            val h = img.getHeight
            val px = new Array[Int](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                px(y * w + x) = (img.getRGB(x, y) >> 16) & 0xFF
                x += 1
              }
              y += 1
            }
            (w, h, px)
          }
          var prev = gray(0)
          val rows = (1 until k).map { f =>
            val cur = gray(f)
            var sum = 0L
            var i = 0
            while (i < cur._3.length) {
              sum += math.abs(cur._3(i) - prev._3(i))
              i += 1
            }
            prev = cur
            val mad = sum.toDouble / (cur._1 * cur._2)
            (id, f, mad, mad > 14.0)
          }
          rows
          } finally {
            reader.dispose()
            iis.close()
          }
        }
      }.toDF("media_id", "frame_no", "mad", "is_cut")
        .orderBy(col("media_id"), col("frame_no"))
    },
    // recomputed from the generation formula, never from the payload —
    // a defect in frame ordering, palette round-trip, or decode breaks
    // the per-pixel wraparound pattern and fails the hash
    Some("""WITH base AS (
           |  SELECT doc_id AS media_id,
           |         2 + (doc_id % 3) AS k,
           |         6 + (doc_id % 10) AS w,
           |         6 + ((doc_id * 3) % 10) AS h
           |  FROM documents),
           |frames AS (
           |  SELECT media_id, k, w, h, unnest(generate_series(1, k - 1)) AS f
           |  FROM base),
           |px AS (
           |  SELECT media_id, f, w, h,
           |         abs(((media_id + 7 * f + 3 * x + 5 * y) % 256)
           |           - ((media_id + 7 * (f - 1) + 3 * x + 5 * y) % 256)) AS dv
           |  FROM frames,
           |       LATERAL unnest(generate_series(0, w - 1)) AS tx(x),
           |       LATERAL unnest(generate_series(0, h - 1)) AS ty(y))
           |SELECT media_id, CAST(f AS INT) AS frame_no,
           |       CAST(sum(dv) AS DOUBLE) / (max(w) * max(h)) AS mad,
           |       (CAST(sum(dv) AS DOUBLE) / (max(w) * max(h))) > 14.0 AS is_cut
           |FROM px GROUP BY media_id, f ORDER BY media_id, frame_no""".stripMargin))

  /** Perceptual-hash near-duplicate detection over DECODED images — the
    * multimodal mirror of d05's SimHash pipeline, closing the
    * "image dedup" cell (the first dedup stage of any multimodal
    * training corpus). Stage 1 decodes each PNG payload with the real
    * JDK codec and computes an aHash: the pixel grid collapses to 8×8
    * block sums and bit idx is set iff its block's mean beats the
    * global mean — compared CROSS-MULTIPLIED in integers
    * (S·w·h > total·N), so no double division can round differently
    * anywhere. The 64 bits pack into two 32-bit words (`lo`/`hi`, the
    * e20 layout). Stage 2 is the d05 scale shape: band the hash into
    * 5 chunks of 13/13/13/13/12 bits ([[phashBandChunks]]), self-join
    * only within equal chunks (LSH — any pair at Hamming ≤ 4 shares
    * at least one exact chunk by pigeonhole over 5 disjoint bands, so
    * the ≤ 4 verify threshold has FULL recall; 4×16-bit bands would
    * only guarantee ≤ 3 and silently drop a pair with one differing
    * bit per band), verify candidates by exact Hamming (xor+popcount),
    * keep pairs ≤ 4. At 100 TB: decode is a linear
    * per-row pass, the join is banded (never all-pairs), and the
    * 8-byte hashes are what shuffles — not pixels. Oracle: the full
    * pipeline recomputed from the generation formula (blocks, bits,
    * packing, banding, Hamming) — a decode or packing defect anywhere
    * fails the hash gate.
    */
  /** The aHash itself — decode + 8×8 block sums + cross-multiplied
    * integer thresholding, packed into two 32-bit words. Pure function
    * over an opaque payload, shared by the batch gate and the
    * streaming at-ingest screen so both hash identically by
    * construction.
    */
  private[graft] def aHash(payload: Array[Byte]): (Long, Long) = {
    imageIoNoDiskCache
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val gsum = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF)
          + (rgb & 0xFF)).toLong
        val idx = (y * 8 / h) * 8 + (x * 8 / w)
        sums(idx) += gsum
        counts(idx) += 1
        total += gsum
        x += 1
      }
      y += 1
    }
    var lo = 0L; var hi = 0L
    var idx = 0
    while (idx < 64) {
      // block mean > global mean, cross-multiplied: exact integers
      if (sums(idx) * w * h > total * counts(idx)) {
        if (idx < 32) lo |= 1L << idx else hi |= 1L << (idx - 32)
      }
      idx += 1
    }
    (lo, hi)
  }

  /** aHash every (media_id, payload) row — the
    * [[graft.api.Graft.imagePHash]] facade path: a linear decode pass,
    * 8-byte output per image. UNCACHED — callers referencing it from
    * both sides of a join must cache/localCheckpoint.
    */
  private[graft] def hashImages(media: org.apache.spark.sql.Dataset[
      (Long, Array[Byte])]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { case (id, payload) =>
      val (lo, hi) = aHash(payload)
      (id, lo, hi)
    }).toDF("media_id", "lo", "hi")
  }

  /** (media_id, lo, hi) aHashes of the synthetic corpus. UNCACHED —
    * callers referencing it from both sides of a join must cache.
    */
  private[graft] def phashed(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    hashImages(mediaIds(s, d)
      .mapPartitions(_.map(id => (id, syntheticPng(id)))))
  }

  /** The 5-band (13/13/13/13/12-bit) chunks of a two-word (lo, hi)
    * 64-bit hash, as an array of (band, chunk) structs — the
    * column-level LSH banding primitive ([[phashBanded]] explodes it;
    * GraftExtensions registers it as the SQL function `phash_bands`,
    * so pure-SQL pipelines band with the same expression tree).
    *
    * 5 disjoint bands covering all 64 bits are pigeonhole-complete for
    * Hamming ≤ 4 — EXACTLY the verify threshold, so candidate
    * generation cannot drop a true near-dup (round 7's 4×16-bit bands
    * only guaranteed ≤ 3 and silently dropped distance-4 pairs with
    * one differing bit per band). Width matters for scale: 13-bit
    * chunks give 8192-value buckets per band, vs an 8×8-bit scheme
    * (also complete, guaranteeing ≤ 7) whose 256-value chunks would
    * collide two random hashes ~3% of the time and blow the candidate
    * volume up ~50× at corpus scale. Minimum bands for the guarantee,
    * maximum bits per band — the standard LSH dial.
    *
    * Band 2 straddles the two 32-bit words (lo bits 26–31 ‖ hi bits
    * 0–6); every intermediate stays non-negative, so the arithmetic is
    * engine-portable without unsigned-shift concerns.
    */
  private[graft] def phashBandChunks(lo: Column, hi: Column): Column =
    array(
      struct(lit(0).as("band"),
        lo.bitwiseAND(lit(8191L)).as("chunk")),
      struct(lit(1).as("band"),
        shiftright(lo, 13).bitwiseAND(lit(8191L)).as("chunk")),
      struct(lit(2).as("band"),
        (shiftright(lo, 26).bitwiseAND(lit(63L)) +
          hi.bitwiseAND(lit(127L)) * lit(64L)).as("chunk")),
      struct(lit(3).as("band"),
        shiftright(hi, 7).bitwiseAND(lit(8191L)).as("chunk")),
      struct(lit(4).as("band"),
        shiftright(hi, 20).bitwiseAND(lit(4095L)).as("chunk")))

  /** The band explode over a (media_id, lo, hi) frame — the d05 LSH
    * shape, shared by the self-join gate and the screen.
    */
  private[graft] def phashBanded(df: DataFrame): DataFrame =
    df.select(col("media_id"), col("lo"), col("hi"),
      explode(phashBandChunks(col("lo"), col("hi"))).as("bucket"))

  /** Screen `incoming` hashes against a (small, broadcast) `index` of
    * existing-corpus hashes: banded candidates + exact Hamming ≤ 4 —
    * the at-ingest image-dedup shape ([[graft.streaming]] composes it
    * per micro-batch). Both args are (media_id, lo, hi) frames.
    */
  private[graft] def phashScreen(incoming: DataFrame,
                                 index: DataFrame): DataFrame = {
    val in = phashBanded(incoming)
      .select(col("media_id").as("ma"), col("lo").as("alo"),
        col("hi").as("ahi"), col("bucket"))
    val ix = phashBanded(index)
      .select(col("media_id").as("mb"), col("lo").as("blo"),
        col("hi").as("bhi"), col("bucket"))
    hammingWithin(in.join(broadcast(ix), Seq("bucket")), 4)
  }

  /** [[phashScreen]] with the broadcast FLIPPED for a PERSISTED index:
    * the stored corpus is the big side at scale, so the arriving
    * batch's banded hashes broadcast into the stored band projection
    * (one linear pass over the stored hashes, never a shuffle — the
    * d15/d17/d19 asymmetric shape). The 5-band 13/13/13/13/12-bit
    * layout is pigeonhole-COMPLETE for Hamming ≤ 4, so the uncapped
    * screen equals the exact all-pairs new-vs-stored answer — which is
    * what the mm10 gate's banding-free oracle checks. `bucketCap` is
    * the d09 hot-bucket lever over the STORED buckets.
    */
  private[graft] def phashScreenStored(stored: DataFrame,
                                       incoming: DataFrame,
                                       maxHamming: Int = 4,
                                       bucketCap: Option[Long] = None)
      : DataFrame = {
    graft.operators.DedupQueries
      .enforceScreenBatchContract(incoming, "phash screen")
    val ix = capHot(phashBanded(stored), Seq("bucket"), bucketCap,
      broadcastCool = true)
    val in = phashBanded(incoming)
      .select(col("media_id").as("ma"), col("lo").as("alo"),
        col("hi").as("ahi"), col("bucket"))
    hammingWithin(
      ix.select(col("media_id").as("mb"), col("lo").as("blo"),
          col("hi").as("bhi"), col("bucket"))
        .join(broadcast(in), Seq("bucket")),
      maxHamming)
  }

  /** [[phashScreenStored]] over a PERSISTED banded projection — the
    * probe-pruned path for a bucketed (v2) pHash store: the stored
    * side arrives ALREADY BANDED (`storedBands` = (media_id, lo, hi,
    * band, chunk, pb) — [[graft.sources.IndexStore]]'s `bands/`
    * table, partitioned by `pb = band·n + pmod(chunk, n)`), the
    * incoming batch derives its `pb` values with the same expression,
    * and the literal set (≤ 5n ints, pulled driver-side from the
    * SMALL batch) filters the stored scan on its partition column —
    * so the screen reads only the matching buckets' FILES instead of
    * banding the whole hash table per micro-batch. Candidates still
    * join on the full (band, chunk) key and verify by exact Hamming
    * inline (lo/hi ride on the band rows — no second table touch), so
    * the output is IDENTICAL to [[phashScreenStored]] over the same
    * corpus: pruning removes only rows whose (band, chunk) cannot
    * match (containment: equal key ⇒ equal pb). `bucketCap` counts
    * over the pruned rows — exact for every probed bucket, whose full
    * population shares its pb.
    */
  private[graft] def phashScreenBands(storedBands: DataFrame,
                                      incoming: DataFrame,
                                      maxHamming: Int = 4,
                                      bucketCap: Option[Long] = None,
                                      nBuckets: Int = 16,
                                      pbBloom: Option[(DataFrame, Int)] =
                                        None): DataFrame = {
    graft.operators.DedupQueries
      .enforceScreenBatchContract(incoming, "phash screen")
    val inAll = phashBanded(incoming)
      .select(col("media_id").as("ma"), col("lo").as("alo"),
        col("hi").as("ahi"), col("bucket.band").as("band"),
        col("bucket.chunk").as("chunk"))
      .localCheckpoint(eager = false)
    // BLOOM PREFILTER (stored sketch over the index's (band, chunk)
    // keys — the LSH bkbloom mirrored onto media): a key the sketch
    // rejects provably matches NO stored bucket, so its band row
    // drops BEFORE any store I/O — a definitely-novel media batch
    // derives an EMPTY pb set and the stored scan folds away
    // entirely. FPs only add probes; verdicts unchanged.
    val in = pbBloom.fold(inAll) { case (words, mBits) =>
      bloomKeep(inAll.withColumn("h", concat_ws(":", col("band"), col("chunk"))),
        "ma", "h", words, mBits).drop("h")
    }
    val pruned = pruneToBuckets(storedBands, "pb", batchBuckets(in,
      (col("band") * nBuckets + pmod(col("chunk"), lit(nBuckets.toLong)))
        .cast("int")))
    val ix0 = pruned.select(col("media_id").as("mb"),
      col("lo").as("blo"), col("hi").as("bhi"), col("band"),
      col("chunk"))
    val ix = capHot(ix0, Seq("band", "chunk"), bucketCap,
      broadcastCool = true)
    hammingWithin(ix.join(broadcast(in), Seq("band", "chunk")), maxHamming)
  }

  /** mm07's banded self-join over a (media_id, lo, hi) frame — the
    * [[graft.api.Graft.imageNearDups]] facade path. `bucketCap` is the
    * d09 hot-bucket lever for hyper-duplicated corpora, where the TRUE
    * pair set — and so any exact dedup's output — grows quadratically
    * in the per-image copy count: buckets above the cap are skipped,
    * bounding emitted pairs at cap²/2 per bucket. Unsorted; the gate
    * adds its output sort.
    */
  private[graft] def phashNearDups(hashed: DataFrame, maxHamming: Int = 4,
                                   bucketCap: Option[Long] = None)
      : DataFrame = {
    val banded = capHot(phashBanded(hashed), Seq("bucket"), bucketCap,
      broadcastCool = true)
    hammingWithin(
      selfPairs(banded, "bucket", "media_id", ("ma", "mb"), "lo", "hi"),
      maxHamming)
  }

  /** Aggregate pair COUNT of a near-dup pair frame — the output-bound
    * regime's measurement lever (hyper-duplicated corpora make the
    * TRUE pair set quadratic, so materializing — let alone globally
    * sorting — it dominates any run): the candidate/verify plan stays
    * identical and the output collapses to one row through a
    * map-side-combinable global aggregate. countOnly = count(pairs)
    * is spec-pinned (MultimodalOpsSpec).
    */
  private[graft] def nearDupPairCount(pairs: DataFrame): DataFrame =
    pairs.agg(count(lit(1)).as("n_pairs"))

  /** `spark.graft.phashBucketCap`: the hot-bucket cap of the media
    * near-dup gates (mm07, mm08, mm09 and their counts); unset for the
    * gate run, whose oracles replay uncapped.
    */
  private def phashBucketCap(s: SparkSession): Option[Long] =
    s.conf.getOption("spark.graft.phashBucketCap").map(_.toLong)

  /** 64-bit audio energy fingerprint of a WAV payload, decoded with the
    * REAL JDK codec (mm04's path): the clip's |amplitude| stream
    * collapses into 64 relative windows (idx = k·64/n — variable
    * window sizes when 64 ∤ n, counts tracked), and bit w is set iff
    * window w's mean |amplitude| beats the clip mean — compared
    * CROSS-MULTIPLIED in integers (S·n > total·c, the mm07 aHash
    * discipline), so no double division can round differently across
    * engines. Packed into two 32-bit words — EXACTLY mm07's (lo, hi)
    * layout, so the image hash's 5-band 13/12-bit chunks
    * ([[phashBandChunks]], 8192-value selectivity per band) band it
    * too: the round-8 32-bit code's 6–7-bit chunks capped out at 128
    * buckets per band, growing linearly-populated at corpus scale —
    * widening the code is what retires that caveat. Shared by the
    * batch gate and [[graft.api.Graft.audioFingerprint]].
    */
  private[graft] def audioFp(payload: Array[Byte]): (Long, Long) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
      s"unexpected decoded format: $fmt")
    val bytes = ais.readAllBytes()
    ais.close()
    val n = bytes.length / 2
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    var k = 0
    while (k < n) {
      val v = (((bytes(2 * k + 1) & 0xFF) << 8) |
        (bytes(2 * k) & 0xFF)).toShort.toLong
      val a = math.abs(v)
      val idx = (k.toLong * 64 / n).toInt
      sums(idx) += a
      cnts(idx) += 1
      total += a
      k += 1
    }
    var lo = 0L; var hi = 0L
    var i = 0
    while (i < 64) {
      if (sums(i) * n > total * cnts(i)) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (lo, hi)
  }

  /** Fingerprint every (media_id, payload) audio row — the
    * [[graft.api.Graft.audioFingerprint]] facade path: a linear decode
    * pass, 8-byte (lo, hi) output per clip. */
  private[graft] def fingerprintAudio(
      media: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { case (id, payload) =>
      val (lo, hi) = audioFp(payload)
      (id, lo, hi)
    }).toDF("media_id", "lo", "hi")
  }

  /** Audio fingerprint near-dup detection — the audio member of the
    * multimodal dedup family (images: mm07; video shots: mm06): decode
    * with the real codec, fingerprint ([[audioFp]] — 64 windows packed
    * into mm07's two-word layout), the shared 5-band 13/12-bit LSH
    * candidates (complete for the ≤ 4 verify threshold), exact
    * xor+popcount verify. Near-phase clips (the generator's sawtooth
    * offsets collide modulo 2001) produce genuine non-identical
    * near-dups. At 100 TB: decode is a linear pass and 8-byte
    * fingerprints shuffle — samples never do — and the 8192-value
    * band buckets keep candidate volume sub-quadratic (the round-8
    * 32-bit code's 128-value buckets did not; widening retired that
    * caveat). Oracle replays decode → windows → cross-multiplied bits
    * → two-word packing → banding → Hamming closed-form from the
    * waveform formula.
    */
  val mm08AudioFpDedup = QueryDef(
    "mm08_audio_fp_neardup",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val fps = graft.api.Graft.audioFingerprint(
        mediaIds(s, d)
          .mapPartitions(_.map(id => (id, syntheticWav(id)))))
        .localCheckpoint()
      // same hot-bucket lever (and conf) as mm07: on a hyper-duplicated
      // corpus the TRUE pair set is quadratic in the per-class copy
      // count, and capping band buckets bounds emitted pairs at cap²/2
      // per bucket (unset for the gate run — the oracle replays uncapped)
      graft.api.Graft.audioNearDups(fps,
          bucketCap = phashBucketCap(s))
        .orderBy(col("ma"), col("mb"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id AS media_id, 400 + (doc_id % 100) * 4 AS n
           |  FROM documents),
           |smp AS (
           |  SELECT media_id, n, k,
           |    abs(((media_id * 31 + k * 17) % 2001) - 1000) AS a,
           |    CAST((k * 64) // n AS INT) AS idx
           |  FROM base, LATERAL unnest(generate_series(0, n - 1)) AS t(k)),
           |win AS (
           |  SELECT media_id, idx, max(n) AS n, sum(a) AS s, count(*) AS c
           |  FROM smp GROUP BY media_id, idx),
           |tot AS (SELECT media_id, sum(s) AS total FROM win GROUP BY 1),
           |fp AS (
           |  SELECT w.media_id,
           |    CAST(sum(CASE WHEN idx < 32 AND s * n > total * c
           |                  THEN CAST(1 AS BIGINT) << idx ELSE 0 END)
           |      AS BIGINT) AS lo,
           |    CAST(sum(CASE WHEN idx >= 32 AND s * n > total * c
           |                  THEN CAST(1 AS BIGINT) << (idx - 32) ELSE 0 END)
           |      AS BIGINT) AS hi
           |  FROM win w JOIN tot USING (media_id) GROUP BY w.media_id),
           |banded AS (
           |  SELECT media_id, lo, hi, band,
           |    CASE WHEN band = 0 THEN lo & 8191
           |         WHEN band = 1 THEN (lo >> 13) & 8191
           |         WHEN band = 2 THEN ((lo >> 26) & 63) + (hi & 127) * 64
           |         WHEN band = 3 THEN (hi >> 7) & 8191
           |         ELSE (hi >> 20) & 4095 END AS chunk
           |  FROM fp, (SELECT unnest([0, 1, 2, 3, 4]) AS band) b),
           |cand AS (
           |  SELECT DISTINCT x.media_id AS ma, y.media_id AS mb,
           |    CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi))
           |      AS BIGINT) AS hamming
           |  FROM banded x JOIN banded y
           |    ON x.band = y.band AND x.chunk = y.chunk
           |   AND x.media_id < y.media_id)
           |SELECT ma, mb, hamming FROM cand
           |WHERE hamming <= 4 ORDER BY ma, mb""".stripMargin))

  /** 64-bit aHash of one decoded GRAYSCALE frame (single-channel block
    * sums — the GIF palette is gray, so R carries the value; mm07's
    * 3-channel sum is for RGB stills): 8×8 blocks, block-mean vs
    * frame-mean cross-multiplied in integers, packed (lo, hi). Frames
    * smaller than 8×8 leave some blocks empty — an empty block's bit is
    * 0 on both engines (0 > 0 is false; the oracle's missing group rows
    * contribute no bit).
    */
  private[graft] def frameHash(img: java.awt.image.BufferedImage)
      : (Long, Long) = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((img.getRGB(x, y) >> 16) & 0xFF).toLong
        val idx = (y * 8 / h) * 8 + (x * 8 / w)
        sums(idx) += v
        counts(idx) += 1
        total += v
        x += 1
      }
      y += 1
    }
    var lo = 0L; var hi = 0L
    var idx = 0
    while (idx < 64) {
      if (sums(idx) * w * h > total * counts(idx)) {
        if (idx < 32) lo |= 1L << idx else hi |= 1L << (idx - 32)
      }
      idx += 1
    }
    (lo, hi)
  }

  /** Decode one opaque video payload with the real GIF reader and hash
    * every frame: (frame_no, n_frames, lo, hi) per frame. The shared
    * per-payload kernel of [[hashVideoFrames]] and the at-ingest stream
    * screen ([[graft.streaming.MediaStreams.videoDedupScreen]]), so
    * stream and batch hash identically by construction.
    */
  private[graft] def videoFrameHashesOf(payload: Array[Byte])
      : Seq[(Long, Long, Long, Long)] = {
    imageIoNoDiskCache
    val reader =
      javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    // try/finally: a malformed payload must not leak the native-backed
    // stream — in the at-ingest screen this kernel re-runs every
    // micro-batch retry, so a leak compounds
    try {
      reader.setInput(iis)
      val k = reader.getNumImages(true)
      (0 until k).map { f =>
        val (lo, hi) = frameHash(reader.read(f))
        (f.toLong, k.toLong, lo, hi)
      }
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** Per-frame perceptual hashes of opaque video payloads, decoded with
    * the REAL GIF reader (mm03's path) — the
    * [[graft.api.Graft.videoFrameHashes]] facade path: one linear
    * decode pass per video, k 8-byte hashes out; pixels never leave the
    * row's partition.
    */
  private[graft] def hashVideoFrames(
      media: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { case (id, payload) =>
      videoFrameHashesOf(payload).map {
        case (f, k, lo, hi) => (id, f, k, lo, hi)
      }
    }).toDF("media_id", "frame_no", "n_frames", "lo", "hi")
  }

  /** The (frame position, band, chunk) bucket explode over a
    * (media_id, frame_no, n_frames, lo, hi) frame — [[phashBanded]]
    * lifted to per-frame hashes. Position-keying keeps buckets
    * selective (a frame hash only ever meets same-position hashes) and
    * stays complete for the aligned-verify rule: a qualifying pair
    * matches at position 0 in particular, where the 5-band chunks are
    * pigeonhole-complete for Hamming ≤ 4.
    */
  private def videoBanded(frameHashes: DataFrame): DataFrame =
    frameHashes.select(col("media_id"), col("frame_no"),
      explode(phashBandChunks(col("lo"), col("hi"))).as("b"))
      .select(col("media_id"),
        struct(col("frame_no"), col("b.band"), col("b.chunk")).as("bucket"))

  /** Aligned verify shared by [[videoNearDups]] and [[videoScreen]]:
    * join ONLY the candidate pairs' aligned frame positions
    * (0 until min(k_a, k_b), via the inner join on frame_no) and keep a
    * pair when every aligned position sits at Hamming ≤ `maxHamming` —
    * work proportional to candidates × frames-per-video, never videos².
    */
  private def videoAlignedVerify(cand: DataFrame, a: DataFrame,
                                 b: DataFrame, maxHamming: Int,
                                 broadcastIndex: Boolean): DataFrame = {
    val aa = a.select(col("media_id").as("ma"), col("frame_no").as("f"),
      col("lo").as("alo"), col("hi").as("ahi"))
    val bb0 = b.select(col("media_id").as("mb"), col("frame_no").as("f"),
      col("lo").as("blo"), col("hi").as("bhi"))
    val bb = if (broadcastIndex) broadcast(bb0) else bb0
    cand.join(aa, Seq("ma")).join(bb, Seq("mb", "f"))
      .select(col("ma"), col("mb"),
        expr("CAST(bit_count(alo ^ blo) + bit_count(ahi ^ bhi) AS BIGINT)")
          .as("hm"))
      .groupBy(col("ma"), col("mb"))
      .agg(count(lit(1)).as("n_aligned"),
        max(col("hm")).as("max_hamming"),
        sum(when(col("hm") <= maxHamming, 1L).otherwise(0L)).as("matched"))
      .filter(col("matched") === col("n_aligned"))
      .select(col("ma"), col("mb"), col("n_aligned"), col("max_hamming"))
  }

  /** Screen `incoming` per-frame video hashes against a (small, static,
    * broadcast) `index` of existing-corpus frame hashes with the mm09
    * temporally-aligned rule — the at-ingest video-dedup shape
    * ([[graft.streaming.MediaStreams.videoDedupScreen]] composes it per
    * micro-batch). Both args are (media_id, frame_no, n_frames, lo, hi)
    * frames; output (ma = incoming id, mb = index id, n_aligned,
    * max_hamming). Candidates come from the position-keyed band join
    * against the broadcast index; only candidates' aligned frames are
    * verified.
    */
  private[graft] def videoScreen(incoming: DataFrame,
                                 index: DataFrame): DataFrame = {
    val cand = videoBanded(incoming)
      .select(col("media_id").as("ma"), col("bucket"))
      .join(broadcast(videoBanded(index)
        .select(col("media_id").as("mb"), col("bucket"))), Seq("bucket"))
      .select(col("ma"), col("mb")).distinct()
    videoAlignedVerify(cand, incoming, index, maxHamming = 4,
      broadcastIndex = true)
  }

  /** Video near-dup pairs over per-frame hashes — TEMPORALLY ALIGNED:
    * two videos are near-dups when EVERY aligned frame position
    * (0 until min(k_a, k_b)) matches at Hamming ≤ `maxHamming`.
    * Candidates come from a band join keyed by (frame position, band,
    * chunk) — complete for the rule, since a qualifying pair matches
    * at position 0 in particular and the 5-band chunks are complete
    * for ≤ 4 there; keying by position keeps buckets selective (a
    * frame hash only ever meets same-position hashes). Verification
    * joins the candidate pairs' aligned positions only — work
    * proportional to candidates × frames-per-video, never videos².
    * `bucketCap` is the mm07/mm08 hyper-duplication lever. Unsorted.
    */
  private[graft] def videoNearDups(frameHashes: DataFrame,
                                   maxHamming: Int = 4,
                                   bucketCap: Option[Long] = None)
      : DataFrame = {
    val banded = capHot(videoBanded(frameHashes), Seq("bucket"), bucketCap,
      broadcastCool = true)
    val cand = selfPairs(banded, "bucket", "media_id", ("ma", "mb"))
      .distinct()
    videoAlignedVerify(cand, frameHashes, frameHashes, maxHamming,
      broadcastIndex = false)
  }

  /** Video perceptual near-dup detection — the video member of the
    * multimodal dedup family (stills: mm07; audio: mm08; shot
    * structure: mm06): real GIF decode → per-frame gray aHash
    * ([[frameHash]]) → position-keyed 5-band LSH candidates → aligned
    * per-position exact verify, ALL positions ≤ 4. The generator's
    * pixel formula shifts by media_id mod 256, so videos sharing
    * (dims, frame count) differ only by the wraparound redistribution
    * — genuine non-identical near-dups. At 100 TB: decode is linear,
    * only 8-byte-per-frame hashes shuffle, candidates are
    * position-banded, verify touches candidates × min(k) rows. Oracle
    * replays frames → blocks → bits → packing → banding → aligned
    * Hamming closed-form from the pixel formula.
    */
  val mm09VideoNearDup = QueryDef(
    "mm09_video_neardup",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val frames = graft.api.Graft.videoFrameHashes(
        mediaIds(s, d)
          .mapPartitions(_.map(id => (id, syntheticGif(id)))))
        .localCheckpoint()
      graft.api.Graft.videoNearDups(frames,
          bucketCap = phashBucketCap(s))
        .orderBy(col("ma"), col("mb"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id AS media_id, 2 + (doc_id % 3) AS k,
           |         6 + (doc_id % 10) AS w, 6 + ((doc_id * 3) % 10) AS h
           |  FROM documents),
           |vframes AS (
           |  SELECT media_id, k, w, h, unnest(generate_series(0, k - 1)) AS f
           |  FROM base),
           |px AS (
           |  SELECT media_id, f, w, h,
           |         ((y * 8) // h) * 8 + ((x * 8) // w) AS idx,
           |         (media_id + 7 * f + 3 * x + 5 * y) % 256 AS v
           |  FROM vframes,
           |       LATERAL unnest(generate_series(0, w - 1)) AS tx(x),
           |       LATERAL unnest(generate_series(0, h - 1)) AS ty(y)),
           |blocks AS (
           |  SELECT media_id, f, idx, max(w) AS w, max(h) AS h,
           |         sum(v) AS s, count(*) AS n
           |  FROM px GROUP BY media_id, f, idx),
           |totals AS (
           |  SELECT media_id, f, sum(s) AS total
           |  FROM blocks GROUP BY media_id, f),
           |packed AS (
           |  SELECT b.media_id, b.f,
           |    CAST(sum(CASE WHEN idx < 32 AND s * w * h > total * n
           |                  THEN CAST(1 AS BIGINT) << idx ELSE 0 END)
           |      AS BIGINT) AS lo,
           |    CAST(sum(CASE WHEN idx >= 32 AND s * w * h > total * n
           |                  THEN CAST(1 AS BIGINT) << (idx - 32) ELSE 0 END)
           |      AS BIGINT) AS hi
           |  FROM blocks b JOIN totals USING (media_id, f)
           |  GROUP BY b.media_id, b.f),
           |banded AS (
           |  SELECT media_id, f, band,
           |    CASE WHEN band = 0 THEN lo & 8191
           |         WHEN band = 1 THEN (lo >> 13) & 8191
           |         WHEN band = 2 THEN ((lo >> 26) & 63) + (hi & 127) * 64
           |         WHEN band = 3 THEN (hi >> 7) & 8191
           |         ELSE (hi >> 20) & 4095 END AS chunk
           |  FROM packed, (SELECT unnest([0, 1, 2, 3, 4]) AS band) b),
           |cand AS (
           |  SELECT DISTINCT x.media_id AS ma, y.media_id AS mb
           |  FROM banded x JOIN banded y
           |    ON x.f = y.f AND x.band = y.band AND x.chunk = y.chunk
           |   AND x.media_id < y.media_id),
           |aligned AS (
           |  SELECT c.ma, c.mb,
           |    bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hm
           |  FROM cand c
           |  JOIN packed a ON a.media_id = c.ma
           |  JOIN packed b ON b.media_id = c.mb AND b.f = a.f)
           |SELECT ma, mb, CAST(count(*) AS BIGINT) AS n_aligned,
           |       CAST(max(hm) AS BIGINT) AS max_hamming
           |FROM aligned GROUP BY ma, mb
           |HAVING count(*) = sum(CASE WHEN hm <= 4 THEN 1 ELSE 0 END)
           |ORDER BY ma, mb""".stripMargin))

  val mm07PerceptualHashDedup = QueryDef(
    "mm07_phash_neardup",
    (s, d) => {
      // eager localCheckpoint: the banded self-join references this
      // subtree on BOTH sides, and without materialization Spark would
      // decode every image twice (decode dominates the op's cost).
      // Unlike the round-7 cache() this leaves no CacheManager entry
      // behind — each invocation built fresh mapPartitions lambdas the
      // CacheManager couldn't dedupe, so repeated calls (bench ×5, spec
      // reruns) accumulated session-lifetime entries; checkpoint blocks
      // instead die with the handle (ContextCleaner)
      val hashed = phashed(s, d).localCheckpoint()
      graft.api.Graft.imageNearDups(hashed,
          bucketCap = phashBucketCap(s))
        .orderBy(col("ma"), col("mb"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id AS media_id,
           |         8 + (doc_id % 24) AS w,
           |         8 + ((doc_id * 7) % 24) AS h
           |  FROM documents),
           |px AS (
           |  SELECT media_id, w, h,
           |         ((y * 8) // h) * 8 + ((x * 8) // w) AS idx,
           |         ((media_id + 3 * x + 5 * y) % 256)
           |           + ((2 * media_id + 7 * x + 11 * y) % 256)
           |           + ((3 * media_id + 13 * x + 17 * y) % 256) AS gsum
           |  FROM base,
           |       LATERAL unnest(generate_series(0, w - 1)) AS tx(x),
           |       LATERAL unnest(generate_series(0, h - 1)) AS ty(y)),
           |blocks AS (
           |  SELECT media_id, idx, max(w) AS w, max(h) AS h,
           |         sum(gsum) AS s, count(*) AS n
           |  FROM px GROUP BY media_id, idx),
           |totals AS (
           |  SELECT media_id, sum(s) AS total FROM blocks GROUP BY media_id),
           |packed AS (
           |  SELECT b.media_id,
           |    CAST(sum(CASE WHEN idx < 32 AND s * w * h > total * n
           |                  THEN CAST(1 AS BIGINT) << idx ELSE 0 END) AS BIGINT) AS lo,
           |    CAST(sum(CASE WHEN idx >= 32 AND s * w * h > total * n
           |                  THEN CAST(1 AS BIGINT) << (idx - 32) ELSE 0 END) AS BIGINT) AS hi
           |  FROM blocks b JOIN totals USING (media_id) GROUP BY b.media_id),
           |banded AS (
           |  SELECT media_id, lo, hi, band,
           |    CASE WHEN band = 0 THEN lo & 8191
           |         WHEN band = 1 THEN (lo >> 13) & 8191
           |         WHEN band = 2 THEN ((lo >> 26) & 63) + (hi & 127) * 64
           |         WHEN band = 3 THEN (hi >> 7) & 8191
           |         ELSE (hi >> 20) & 4095 END AS chunk
           |  FROM packed, (SELECT unnest([0, 1, 2, 3, 4]) AS band) b),
           |cand AS (
           |  SELECT DISTINCT x.media_id AS ma, y.media_id AS mb,
           |    CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS BIGINT) AS hamming
           |  FROM banded x JOIN banded y
           |    ON x.band = y.band AND x.chunk = y.chunk
           |   AND x.media_id < y.media_id)
           |SELECT ma, mb, hamming FROM cand
           |WHERE hamming <= 4 ORDER BY ma, mb""".stripMargin))

  /** mm08's countOnly mode under the gate: the SAME decode → fingerprint
    * → band → verify plan, collapsed to its pair count (no global sort,
    * one output row) — the lever that makes the output-bound
    * hyper-duplication regime measurable (PARITY: uncapped xN cells are
    * output-bound, not plan-bound). Oracle = the mm08 oracle wrapped in
    * count(*), so countOnly = count(pairs) holds cross-engine too.
    */
  val mm08AudioFpCount = QueryDef(
    "mm08_audio_neardup_count",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val fps = graft.api.Graft.audioFingerprint(
        mediaIds(s, d)
          .mapPartitions(_.map(id => (id, syntheticWav(id)))))
        .localCheckpoint()
      graft.api.Graft.audioNearDupCount(fps,
        bucketCap = phashBucketCap(s))
    },
    mm08AudioFpDedup.oracle.map(o =>
      s"SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM ($o) AS p"))

  /** mm09's countOnly mode under the gate — see [[mm08AudioFpCount]]. */
  val mm09VideoCount = QueryDef(
    "mm09_video_neardup_count",
    (s, d) => {
      val spark = s
      import spark.implicits._
      val frames = graft.api.Graft.videoFrameHashes(
        mediaIds(s, d)
          .mapPartitions(_.map(id => (id, syntheticGif(id)))))
        .localCheckpoint()
      graft.api.Graft.videoNearDupCount(frames,
        bucketCap = phashBucketCap(s))
    },
    mm09VideoNearDup.oracle.map(o =>
      s"SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM ($o) AS p"))

  /** Durable pHash index gate — e30's restart seam for the MEDIA dedup
    * family: decode + hash the stored corpus (media_id % 3 ≠ 0 — the
    * real JDK codec path mm07 gates), persist the hash table as store
    * kind `phash`, reopen a FRESH handle, and screen the arriving
    * images (% 3 = 0) against it through [[phashScreenStored]] (the
    * arriving batch broadcasts; the stored table never shuffles).
    * Oracle: the mm07 hash-synthesis CTEs (DuckDB reconstructs every
    * aHash from the generator's id-determined pixels) followed by the
    * EXACT new-vs-stored Hamming ≤ 4 join, with NO banding — the
    * 5-band layout is pigeonhole-complete for Hamming ≤ 4, so the
    * banded screen must equal the exact answer, and the gate checks
    * precisely that (plus losslessness of the save → load seam).
    */
  val mm10PhashIndexScreen = QueryDef(
    "mm10_phash_index_screen",
    (s, d) => {
      val hashed = phashed(s, d).localCheckpoint()
      val dir = java.nio.file.Files
        .createTempDirectory("graft_mm10_phash").toString
      graft.api.Graft.phashIndex(
        hashed.filter(col("media_id") % 3 =!= 0)).save(dir)
      graft.api.Graft.loadPhashIndex(s, dir)
        .screen(hashed.filter(col("media_id") % 3 === 0))
        .orderBy(col("ma"), col("mb"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id AS media_id,
           |         8 + (doc_id % 24) AS w,
           |         8 + ((doc_id * 7) % 24) AS h
           |  FROM documents),
           |px AS (
           |  SELECT media_id, w, h,
           |         ((y * 8) // h) * 8 + ((x * 8) // w) AS idx,
           |         ((media_id + 3 * x + 5 * y) % 256)
           |           + ((2 * media_id + 7 * x + 11 * y) % 256)
           |           + ((3 * media_id + 13 * x + 17 * y) % 256) AS gsum
           |  FROM base,
           |       LATERAL unnest(generate_series(0, w - 1)) AS tx(x),
           |       LATERAL unnest(generate_series(0, h - 1)) AS ty(y)),
           |blocks AS (
           |  SELECT media_id, idx, max(w) AS w, max(h) AS h,
           |         sum(gsum) AS s, count(*) AS n
           |  FROM px GROUP BY media_id, idx),
           |totals AS (
           |  SELECT media_id, sum(s) AS total FROM blocks GROUP BY media_id),
           |packed AS (
           |  SELECT b.media_id,
           |    CAST(sum(CASE WHEN idx < 32 AND s * w * h > total * n
           |                  THEN CAST(1 AS BIGINT) << idx ELSE 0 END) AS BIGINT) AS lo,
           |    CAST(sum(CASE WHEN idx >= 32 AND s * w * h > total * n
           |                  THEN CAST(1 AS BIGINT) << (idx - 32) ELSE 0 END) AS BIGINT) AS hi
           |  FROM blocks b JOIN totals USING (media_id) GROUP BY b.media_id)
           |SELECT i.media_id AS ma, st.media_id AS mb,
           |  CAST(bit_count(xor(i.lo, st.lo)) + bit_count(xor(i.hi, st.hi)) AS BIGINT) AS hamming
           |FROM packed i JOIN packed st
           |  ON i.media_id % 3 = 0 AND st.media_id % 3 <> 0
           |WHERE bit_count(xor(i.lo, st.lo)) + bit_count(xor(i.hi, st.hi)) <= 4
           |ORDER BY ma, mb""".stripMargin))

  /** Blue/green publish gate for the MEDIA kind — mm10's screen run
    * THROUGH the generation pointer (the d20/e51 seam on the pHash
    * store): publish a stale index (one third of the stored media) as
    * generation 1, the full stored corpus as generation 2, then
    * screen via [[graft.api.Graft.loadCurrentPhashIndex]]. Oracle:
    * mm10's hash-synthesis + exact-Hamming text verbatim — the
    * publish seam (renames + markers + the listing resolve) must be
    * invisible to the verdicts, and the stale generation 1 must NOT
    * leak (its missing stored media would drop near-dup pairs,
    * failing the row compare).
    */
  val mm11PhashPublishedScreen = QueryDef(
    "mm11_phash_published_screen",
    (s, d) => {
      val hashed = phashed(s, d).localCheckpoint()
      val root = java.nio.file.Files
        .createTempDirectory("graft_mm11_root").toString + "/gens"
      val b1 = java.nio.file.Files
        .createTempDirectory("graft_mm11_b1").toString + "/idx"
      graft.api.Graft.phashIndex(
        hashed.filter(col("media_id") % 3 === 1)).save(b1)
      graft.api.Graft.publishIndex(s, root, b1)
      val b2 = java.nio.file.Files
        .createTempDirectory("graft_mm11_b2").toString + "/idx"
      graft.api.Graft.phashIndex(
        hashed.filter(col("media_id") % 3 =!= 0)).save(b2)
      graft.api.Graft.publishIndex(s, root, b2)
      graft.api.Graft.loadCurrentPhashIndex(s, root)
        .screen(hashed.filter(col("media_id") % 3 === 0))
        .orderBy(col("ma"), col("mb"))
    },
    mm10PhashIndexScreen.oracle)

  def all: Seq[QueryDef] = Seq(mm01MediaTable, mm02DecodeFeatures,
    mm03FrameSample, mm04AudioFeatures, mm05ResizeFeatures,
    mm06ShotBoundaries, mm07PerceptualHashDedup, mm08AudioFpDedup,
    mm09VideoNearDup, mm08AudioFpCount, mm09VideoCount,
    mm10PhashIndexScreen, mm11PhashPublishedScreen)
}
