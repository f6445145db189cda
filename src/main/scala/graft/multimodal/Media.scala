package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** [EXT] Multimodal columns (driver brief): image/audio/video as opaque
  * `binary` columns with typed metadata, plus the batch plumbing a real
  * decode/feature/resize/frame-sample stage needs.
  *
  * The three modalities now carry CONTENT-REAL decoders over staged
  * public formats: audio = RIFF/WAVE PCM ([[stagedWavRoot]], q262+),
  * image = uncompressed 24-bit BMP ([[stagedBmpRoot]], q289+), video =
  * YUV4MPEG2 ([[stagedY4mRoot]], q297/q299) — header fields, frame
  * markers, and sample/pixel/luma planes all parsed from the bytes and
  * oracled against the staging derivations. [[DecodeStub]] remains
  * ONLY as the batch-contract plumbing demo for the parquet-embedded
  * binary-column layout (q41's metadata shape, q42's mapPartitions
  * batch contract): its "metadata" is arithmetic on byte length, never
  * content decode, and no query treats it as one.
  *
  * Scale notes: content rides as `binary` through narrow stages only;
  * feature extraction is mapPartitions (no shuffle); frame sampling
  * explodes bounded slices; grouping/aggregation happens on small
  * derived columns, never on the blob itself.
  */
object Media {

  /** One media asset: opaque bytes + typed metadata. */
  case class Asset(asset_id: Long, kind: String, content: Array[Byte])

  /** Extracted feature row (fixed-dim vector, unit L1 norm). */
  case class Features(asset_id: Long, kind: String, features: Array[Double])

  /** The media table, derived deterministically from `documents`
    * (content = UTF-8 bytes of the text; kind round-robins the three
    * modalities). In production this is a parquet/Lance table of real
    * blobs; every operator below only assumes (id, kind, binary). */
  def assets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"))

  /** DECODE — STUB. A real implementation hands each batch of blobs to
    * a codec (image decode / audio PCM / container demux) exactly here;
    * this environment has none, so dimensions are derived
    * deterministically from the bytes themselves. The call shape
    * (binary in, typed metadata struct out, pure Column pipeline) is
    * the real contract. */
  object DecodeStub {
    /** Fake "decoded" metadata: width/height (image), sample rate
      * (audio), duration (video) — all functions of content length and
      * a stable content hash, so re-runs and engines agree. */
    def metadata(df: DataFrame): DataFrame =
      df.withColumn("n_bytes", octet_length(col("content")).cast("bigint"))
        .withColumn("fp", md5(col("content")))
        .withColumn("width",
          when(col("kind") === "image", pmod(col("n_bytes"), lit(640)) + 1))
        .withColumn("height",
          when(col("kind") === "image", pmod(col("n_bytes"), lit(480)) + 1))
        .withColumn("sample_rate",
          when(col("kind") === "audio",
            element_at(array(lit(16000L), lit(44100L), lit(48000L)),
              (pmod(col("n_bytes"), lit(3)) + 1).cast("int"))))
        .withColumn("duration_ms",
          when(col("kind") === "video", col("n_bytes") * 10))
        .select(col("asset_id"), col("kind"), col("n_bytes"), col("fp"),
          struct(col("width"), col("height"), col("sample_rate"),
            col("duration_ms")).as("meta"))
  }

  /** Feature extraction over batches of assets — the mapInPandas shape:
    * each partition's iterator is consumed in `batchSize` groups (a real
    * extractor would tensorize one batch at a time), emitting one
    * fixed-dim vector per asset. The byte histogram itself is a genuine
    * (if simple) content feature; swap the per-batch function for a
    * model call and nothing else changes. */
  def byteHistogramFeatures(assets: Dataset[Asset], dim: Int = 16,
      batchSize: Int = 64): Dataset[Features] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { a =>
          val hist = new Array[Double](dim)
          a.content.foreach { b => hist(java.lang.Byte.toUnsignedInt(b) % dim) += 1d }
          val total = hist.sum
          val norm = if (total == 0) hist else hist.map(_ / total)
          Features(a.asset_id, a.kind, norm)
        }
      }
    }
  }

  /** RESIZE — STUB. A real resize re-encodes pixels; here the contract
    * (binary -> smaller binary + updated meta) is modeled by truncating
    * bytes to the target "area", which preserves the plumbing a codec
    * drop-in needs. */
  def resizeStub(df: DataFrame, maxBytes: Int): DataFrame =
    df.withColumn("content",
        when(octet_length(col("content")) > maxBytes,
          substring(col("content"), 1, maxBytes)).otherwise(col("content")))
      .withColumn("resized", octet_length(col("content")) === maxBytes)

  /** Frame sampling: slice the blob into fixed-size frames and keep
    * every `every`-th — real binary slicing via substring over a
    * generated index (a container demuxer would replace the slicer, not
    * the plan shape). One output row per sampled frame. */
  def sampleFrames(df: DataFrame, frameBytes: Int, every: Int): DataFrame = {
    val nFrames = ceil(octet_length(col("content")).cast("double") / frameBytes)
      .cast("bigint")
    // zero-byte blobs have no frames; without the filter sequence(0,-1)
    // raises an illegal-boundaries error
    df.filter(octet_length(col("content")) > 0)
      .withColumn("n_frames", nFrames)
      .withColumn("frame_idx",
        explode(sequence(lit(0L), col("n_frames") - 1, lit(every.toLong))))
      .withColumn("frame",
        substring_index_bytes(frameBytes))
      .select(col("asset_id"), col("kind"), col("n_frames"),
        col("frame_idx"), col("frame"))
  }

  /** substring of the binary `content` column with a Column start
    * offset (`frame_idx` * frameBytes), 1-based. */
  private def substring_index_bytes(frameBytes: Int) =
    expr(s"substring(content, cast(frame_idx * $frameBytes + 1 as int), $frameBytes)")

  /** Blob-batch bound for [[stagedBlobRoot]]: caps the staged file
    * count at any SF (a deployment stages whatever arrives; the bound
    * is the fixture's, not the operator's). */
  val BlobBatch = 512L

  /** Stage a directory of loose binary files — how image/audio corpora
    * actually enter a pipeline (one object per asset on blob storage),
    * as opposed to the parquet-embedded binary column [[assets]]
    * models. Layout is `lang=<lang>/<doc_id>.bin` with content = the
    * document's UTF-8 bytes (deterministic, oracle-recomputable from
    * the documents table), so a path glob over one `lang=` directory
    * is the blob-store analog of partition pruning.
    *
    * The write is DISTRIBUTED (foreachPartition through Hadoop's
    * FileSystem — works unchanged against HDFS/S3A object stores, one
    * create per asset, no driver-side content loop) and
    * `_SUCCESS`-guarded under the q63/q185 artifact discipline: built
    * once per (process, corpus), served from disk afterwards. */
  def stagedBlobRoot(spark: SparkSession, dir: String): String =
    stageBlobs(spark, dir, "blob_corpus",
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && col("doc_id") < BlobBatch)
        .select(col("doc_id"), col("lang"), col("text")))

  /** The SECOND blob generation for q260's sync diff — deterministic
    * overlap with [[stagedBlobRoot]]'s generation: ids [Gen2Lo,
    * Gen2Hi) where Gen2Lo < BlobBatch < Gen2Hi, so ids < Gen2Lo are
    * "removed", ids ≥ BlobBatch "added", and within the overlap every
    * 7th doc carries REVERSED text ("changed" — same path, different
    * bytes). */
  val Gen2Lo = 256L
  val Gen2Hi = 768L
  def stagedBlobRootGen2(spark: SparkSession, dir: String): String =
    stageBlobs(spark, dir, "blob_corpus_g2",
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull &&
          col("doc_id") >= Gen2Lo && col("doc_id") < Gen2Hi)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 7 === 0, reverse(col("text")))
            .otherwise(col("text")).as("text")))

  /** WAV staging parameters — interpolated into BOTH the Scala header
    * builder and the DuckDB oracle, so the staged integers are the
    * oracle's integers by construction. */
  val WavRates = Seq(8000, 16000, 44100)
  val WavBits = 16

  /** The 44-byte canonical RIFF/WAVE PCM header (all multi-byte fields
    * little-endian — the fixed PUBLIC format q262 decodes): RIFF +
    * chunk size (36 + data) + WAVE + "fmt " + 16 + PCM(1) + channels +
    * sample rate + byte rate + block align + bits + "data" + data
    * size. Pure integer fields, no codec — decodable exactly on both
    * engines. */
  private[graft] def wavHeader(dataLen: Int, channels: Int,
      sampleRate: Int, bits: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII"))
    bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(channels.toShort)
    bb.putInt(sampleRate)
    bb.putInt(sampleRate * channels * bits / 8)
    bb.putShort((channels * bits / 8).toShort)
    bb.putShort(bits.toShort)
    bb.put("data".getBytes("US-ASCII"))
    bb.putInt(dataLen)
    bb.array()
  }

  /** Stage REAL WAV files (q262): per doc, a valid 44-byte PCM header
    * whose integer fields derive deterministically from doc_id
    * (channels = id%2+1, rate = [[WavRates]][id%3], 16-bit) followed
    * by the doc's UTF-8 bytes as payload — so the DuckDB oracle
    * recomputes every header field from the documents table while the
    * engine PARSES it from the staged bytes; agreement proves the
    * decode. Same distributed `_SUCCESS`-guarded writer as
    * [[stagedBlobRoot]]. */
  def stagedWavRoot(spark: SparkSession, dir: String): String = {
    val path = graft.Scratch.artifactPath("wav_corpus", dir, s"_b$BlobBatch")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      import spark.implicits._
      val serializableConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && col("doc_id") < BlobBatch)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (docId, text) =>
            val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val channels = (docId % 2 + 1).toInt
            val rate = WavRates(((docId % 3) + 3).toInt % 3)
            val p = new org.apache.hadoop.fs.Path(s"$path/$docId.wav")
            val fs = p.getFileSystem(serializableConf.value)
            val out = fs.create(p, true)
            try {
              out.write(wavHeader(data.length, channels, rate, WavBits))
              out.write(data)
            } finally out.close()
          }
        }
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
    path
  }

  /** The SECOND WAV generation for q304's near-dup pairs (the audio
    * analog of [[stagedBmpRootV2]]/[[stagedY4mRootV2]]): every 7th
    * staged file re-rendered with ONE data byte perturbed (+1 mod 256
    * on data byte 1 — sample 0's HIGH byte, so the edit moves one
    * sample by ±256 or a sign wrap: a real one-sample glitch the
    * energy-envelope fingerprint must shrug off). Same header (data
    * length unchanged); the DuckDB oracle replays the variant from
    * the text with the same +1 fold on the high byte. */
  def stagedWavRootV2(spark: SparkSession, dir: String): String = {
    val path = graft.Scratch.artifactPath("wav_corpus_v2", dir, s"_b$BlobBatch")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      import spark.implicits._
      val serializableConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && col("doc_id") < BlobBatch &&
          col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (docId, text) =>
            val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            if (data.length >= 2) {
              val px = data.clone()
              px(1) = ((java.lang.Byte.toUnsignedInt(px(1)) + 1) % 256).toByte
              val channels = (docId % 2 + 1).toInt
              val rate = WavRates(((docId % 3) + 3).toInt % 3)
              val p = new org.apache.hadoop.fs.Path(s"$path/$docId.wav")
              val fs = p.getFileSystem(serializableConf.value)
              val out = fs.create(p, true)
              try {
                out.write(wavHeader(px.length, channels, rate, WavBits))
                out.write(px)
              } finally out.close()
            }
          }
        }
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
    path
  }

  /** BMP staging parameter: width cycles doc_id % 6 + 1 ∈ [1, 6] —
    * every width class exercises a DIFFERENT row padding (3w mod 4
    * hits 3, 2, 1, 0, 3, 2), so the padding-skip logic is covered by
    * construction, not by luck. Interpolated into BOTH the Scala
    * header builder and the DuckDB oracles. */
  val BmpWidthMod = 6

  /** The 54-byte uncompressed 24-bit BMP header (BITMAPFILEHEADER +
    * BITMAPINFOHEADER, all multi-byte fields little-endian — the fixed
    * PUBLIC format q289 decodes): 'BM' + file size + reserved + pixel
    * offset (54) + DIB size (40) + width + height + planes(1) +
    * bpp(24) + compression(0 = BI_RGB) + image size + 2835 ppm x/y +
    * palette zeros. Pure integer fields, no codec. */
  private[graft] def bmpHeader(w: Int, h: Int, rowSize: Int): Array[Byte] = {
    val img = h * rowSize
    val bb = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("BM".getBytes("US-ASCII"))
    bb.putInt(54 + img)
    bb.putInt(0) // reserved
    bb.putInt(54) // pixel-array offset
    bb.putInt(40) // BITMAPINFOHEADER size
    bb.putInt(w)
    bb.putInt(h) // positive = bottom-up row order
    bb.putShort(1) // planes
    bb.putShort(24) // bits per pixel
    bb.putInt(0) // BI_RGB (uncompressed)
    bb.putInt(img)
    bb.putInt(2835); bb.putInt(2835) // 72 dpi in pixels/metre
    bb.putInt(0); bb.putInt(0) // palette: colors used / important
    bb.array()
  }

  /** Stage REAL BMP files (q289/q290 — the image twin of the WAV
    * program, VERDICT r9 task 4): per doc, a valid 54-byte 24-bit
    * uncompressed header whose fields derive deterministically from
    * doc_id (width = id % [[BmpWidthMod]] + 1) and the text length
    * (height = full padded rows that fit), followed by the doc's
    * UTF-8 bytes as the pixel array — INCLUDING the bytes at row-pad
    * positions, so a decoder that fails to skip padding gets wrong
    * channel sums (the padding discipline is load-bearing, not
    * decorative). Docs too short for one row are not staged. Same
    * distributed `_SUCCESS`-guarded writer as [[stagedWavRoot]]. */
  def stagedBmpRoot(spark: SparkSession, dir: String): String = {
    val path = graft.Scratch.artifactPath("bmp_corpus", dir, s"_b$BlobBatch")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      import spark.implicits._
      val serializableConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && col("doc_id") < BlobBatch)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (docId, text) =>
            val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val w = (docId % BmpWidthMod + 1).toInt
            val rowSize = (3 * w + 3) / 4 * 4
            val h = data.length / rowSize
            if (h >= 1) {
              val p = new org.apache.hadoop.fs.Path(s"$path/$docId.bmp")
              val fs = p.getFileSystem(serializableConf.value)
              val out = fs.create(p, true)
              try {
                out.write(bmpHeader(w, h, rowSize))
                out.write(data, 0, h * rowSize)
              } finally out.close()
            }
          }
        }
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
    path
  }

  /** Stage REAL PNG files carrying the SAME pixel content as
    * [[stagedBmpRoot]] (q307 — the compressed-codec leg of the image
    * program, VERDICT r11 task 3): per doc, the identical w×h BGR
    * pixel grid (text bytes at the BMP stride/padding offsets,
    * bottom-up file rows flipped to top-down image rows) encoded
    * through the JDK's ImageIO PNG writer — a real DEFLATE-compressed
    * codec, offline, no extra jars. Content identity makes the
    * BMP-side oracle exact for the PNG path: the `format("image")`
    * decode of these blobs must reproduce q298's geometry and channel
    * sums bit-for-bit, which is also what frees the fixture from any
    * PNG-side byte arithmetic (nothing could recompute DEFLATE output
    * sizes in SQL — and nothing needs to). Same distributed
    * `_SUCCESS`-guarded writer as [[stagedBmpRoot]]. */
  def stagedPngRoot(spark: SparkSession, dir: String): String = {
    val path = graft.Scratch.artifactPath("png_corpus", dir, s"_b$BlobBatch")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      import spark.implicits._
      val serializableConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && col("doc_id") < BlobBatch)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (docId, text) =>
            val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val w = (docId % BmpWidthMod + 1).toInt
            val rowSize = (3 * w + 3) / 4 * 4
            val h = data.length / rowSize
            if (h >= 1) {
              val img = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
              var y = 0
              while (y < h) {
                // BMP file rows are bottom-up: image row y = file row h-1-y
                val fr = (h - 1 - y) * rowSize
                var x = 0
                while (x < w) {
                  val b = data(fr + 3 * x) & 0xff
                  val g = data(fr + 3 * x + 1) & 0xff
                  val r = data(fr + 3 * x + 2) & 0xff
                  img.setRGB(x, y, (r << 16) | (g << 8) | b)
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", bos)
              val p = new org.apache.hadoop.fs.Path(s"$path/$docId.png")
              val fs = p.getFileSystem(serializableConf.value)
              val out = fs.create(p, true)
              try out.write(bos.toByteArray) finally out.close()
            }
          }
        }
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
    path
  }

  /** The SECOND BMP generation for q295's near-dup pairs: every 7th
    * staged image re-rendered with ONE pixel byte perturbed (+1 mod
    * 256 on the pixel array's byte 1 — pixel 0's G channel), the
    * minimal content edit a perceptual fingerprint must shrug off.
    * Same geometry, same header; only the one byte differs, so the
    * DuckDB oracle replays the variant from the text with the same
    * +1 fold. */
  def stagedBmpRootV2(spark: SparkSession, dir: String): String = {
    val path = graft.Scratch.artifactPath("bmp_corpus_v2", dir, s"_b$BlobBatch")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      import spark.implicits._
      val serializableConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && col("doc_id") < BlobBatch &&
          col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (docId, text) =>
            val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val w = (docId % BmpWidthMod + 1).toInt
            val rowSize = (3 * w + 3) / 4 * 4
            val h = data.length / rowSize
            if (h >= 1) {
              val px = data.take(h * rowSize).clone()
              px(1) = ((java.lang.Byte.toUnsignedInt(px(1)) + 1) % 256).toByte
              val p = new org.apache.hadoop.fs.Path(s"$path/$docId.bmp")
              val fs = p.getFileSystem(serializableConf.value)
              val out = fs.create(p, true)
              try { out.write(bmpHeader(w, h, rowSize)); out.write(px) }
              finally out.close()
            }
          }
        }
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
    path
  }

  /** Y4M staging parameters — width/height cycle small coprime-ish
    * moduli so frame size w·h hits [4, 20] across files and the
    * frame count (text length ÷ frame size) spans ~2–140. Single-digit
    * dims keep the ASCII header a fixed 36 bytes (the engine still
    * PARSES it — the constant is a fixture property, not a decoder
    * assumption). Interpolated into BOTH the Scala writer and the
    * DuckDB oracles. */
  val Y4mWidthMod = 4 // w = id % 4 + 2 ∈ [2, 5]
  val Y4mHeightMod = 3 // h = id % 3 + 2 ∈ [2, 4]
  val Y4mFpsNum = 25
  val Y4mFpsDen = 1

  /** The YUV4MPEG2 stream header (PUBLIC format: a single ASCII
    * parameter line, newline-terminated): magic + frame geometry +
    * frame rate (F<num>:<den>) + progressive + square pixels +
    * `Cmono` colorspace, under which each frame payload is exactly
    * w·h luma bytes (one plane, no chroma) — pure integers and raw
    * bytes, no codec, decodable exactly on both engines. */
  private[graft] def y4mHeader(w: Int, h: Int): Array[Byte] =
    s"YUV4MPEG2 W$w H$h F$Y4mFpsNum:$Y4mFpsDen Ip A1:1 Cmono\n"
      .getBytes("US-ASCII")

  /** Per-frame marker preceding every frame's payload bytes. */
  private[graft] val Y4mFrameMarker: Array[Byte] =
    "FRAME\n".getBytes("US-ASCII")

  /** Stage REAL Y4M videos (q297/q299 — the video leg of the WAV/BMP
    * program, VERDICT r10 task 2, retiring the last [[DecodeStub]]
    * content surface): per doc, a valid YUV4MPEG2 stream whose
    * geometry derives deterministically from doc_id (w = id %
    * [[Y4mWidthMod]] + 2, h = id % [[Y4mHeightMod]] + 2) with the
    * doc's UTF-8 bytes sliced into full w·h luma frames, each behind
    * its own `FRAME\n` marker — so the DuckDB oracle recomputes every
    * field and every frame's luma statistics from the documents table
    * while the engine PARSES header, markers, and planes from the
    * staged bytes. Docs too short for one frame are not staged. Same
    * distributed `_SUCCESS`-guarded writer as [[stagedWavRoot]]. */
  def stagedY4mRoot(spark: SparkSession, dir: String): String = {
    val path = graft.Scratch.artifactPath("y4m_corpus", dir, s"_b$BlobBatch")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      import spark.implicits._
      val serializableConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && col("doc_id") < BlobBatch)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (docId, text) =>
            val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val w = (docId % Y4mWidthMod + 2).toInt
            val h = (docId % Y4mHeightMod + 2).toInt
            val fs = w * h
            val n = data.length / fs
            if (n >= 1) {
              val p = new org.apache.hadoop.fs.Path(s"$path/$docId.y4m")
              val fs2 = p.getFileSystem(serializableConf.value)
              val out = fs2.create(p, true)
              try {
                out.write(y4mHeader(w, h))
                var f = 0
                while (f < n) {
                  out.write(Y4mFrameMarker)
                  out.write(data, f * fs, fs)
                  f += 1
                }
              } finally out.close()
            }
          }
        }
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
    path
  }

  /** The SECOND Y4M generation for q302's near-dup pairs (the video
    * analog of [[stagedBmpRootV2]]): every 7th staged video
    * re-rendered with ONE plane byte perturbed (+1 mod 256 on plane
    * byte 1 — frame 0's second luma sample; frame size ≥ 4 so the
    * index always exists), the minimal content edit a temporal
    * fingerprint must shrug off. Same geometry, same header, same
    * markers; only the one byte differs, so the DuckDB oracle replays
    * the variant from the text with the same +1 fold. */
  def stagedY4mRootV2(spark: SparkSession, dir: String): String = {
    val path = graft.Scratch.artifactPath("y4m_corpus_v2", dir, s"_b$BlobBatch")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      import spark.implicits._
      val serializableConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && col("doc_id") < BlobBatch &&
          col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (docId, text) =>
            val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val w = (docId % Y4mWidthMod + 2).toInt
            val h = (docId % Y4mHeightMod + 2).toInt
            val fs = w * h
            val n = data.length / fs
            if (n >= 1) {
              val px = data.take(n * fs).clone()
              px(1) = ((java.lang.Byte.toUnsignedInt(px(1)) + 1) % 256).toByte
              val p = new org.apache.hadoop.fs.Path(s"$path/$docId.y4m")
              val fs2 = p.getFileSystem(serializableConf.value)
              val out = fs2.create(p, true)
              try {
                out.write(y4mHeader(w, h))
                var f = 0
                while (f < n) {
                  out.write(Y4mFrameMarker)
                  out.write(px, f * fs, fs)
                  f += 1
                }
              } finally out.close()
            }
          }
        }
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
    path
  }

  private def stageBlobs(spark: SparkSession, dir: String, kind: String,
      docs: org.apache.spark.sql.DataFrame): String = {
    val path = graft.Scratch.artifactPath(kind, dir, s"_b$BlobBatch")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      import spark.implicits._
      val serializableConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      docs.as[(Long, String, String)]
        .foreachPartition { it: Iterator[(Long, String, String)] =>
          it.foreach { case (docId, lang, text) =>
            val p = new org.apache.hadoop.fs.Path(s"$path/lang=$lang/$docId.bin")
            val fs = p.getFileSystem(serializableConf.value)
            val out = fs.create(p, true)
            try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
          }
        }
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
    path
  }
}
