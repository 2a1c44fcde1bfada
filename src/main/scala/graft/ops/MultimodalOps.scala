package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines. The engine's stance (per the project brief): media
  * payloads are opaque `binary` columns with typed metadata; the
  * Spark-side machinery — schema, partition sizing, per-partition
  * batch shape, UDF signatures — is real and tested. The decode step
  * is REAL where the JDK has a codec: images via header-only
  * `javax.imageio` (`decodeImage`), WAV/RIFF and MP4 container
  * headers via hand-rolled JDK-only parsers (`decodeMedia`).
  * Payloads no JDK parser covers are CONTAINED as ok=false rows,
  * never an executor-killing throw.
  *
  * Scale notes: rows carry megabyte-class payloads, so operators
  * must (a) never collect, (b) bound partition byte-size not row
  * count — callers repartition by `media_id` with
  * `spark.sql.files.maxPartitionBytes` sized so one partition's
  * payloads fit an executor's working memory, and (c) keep payloads
  * out of shuffles: every op below is map-only (narrow), metadata
  * joins happen on the skinny (id, meta) projection.
  */
object MultimodalOps {

  /** One media row: payload + typed metadata (width/height for image,
    * sampleRate/frames for audio/video; unused fields are -1). */
  case class MediaRow(media_id: Long, modality: String, content: Array[Byte],
                      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  case class MediaFeature(media_id: Long, modality: String, n_bytes: Long,
                          histogram: Array[Double])

  case class DecodedMeta(media_id: Long, modality: String, decoded_width: Int,
                         decoded_height: Int, ok: Boolean)

  case class FrameSample(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Byte-histogram featurization: a REAL (library-free) feature
    * extractor over the binary payload — per-row n-bin normalized
    * histogram, computed per partition (the batch shape a Pandas-UDF
    * / ONNX-runtime stage would use: iterate a partition, reuse
    * buffers, emit rows). Map-only; no shuffle. */
  def featurize(media: Dataset[MediaRow], nBins: Int = 16): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition reusable buffer — the pattern that matters at
      // scale (allocate once per partition, not per row)
      val counts = new Array[Long](nBins)
      it.map { row =>
        java.util.Arrays.fill(counts, 0L)
        var i = 0
        while (i < row.content.length) {
          counts(((row.content(i) & 0xff) * nBins) / 256) += 1
          i += 1
        }
        val total = math.max(1L, row.content.length.toLong)
        MediaFeature(row.media_id, row.modality, row.content.length.toLong,
          counts.map(_.toDouble / total))
      }
    }
  }

  /** Decode step — REAL for images: `javax.imageio` (JDK-built-in,
    * zero new dependencies) parses PNG/JPEG/GIF/BMP payloads to their
    * true pixel dimensions, inside the same mapPartitions batch shape
    * a GPU/codec stage would use. Dimensions come from the format
    * READER'S HEADER (`getWidth(0)`/`getHeight(0)`), never a full
    * `ImageIO.read` — a decompression bomb (KB-sized file declaring
    * 50000×50000 pixels) would otherwise allocate the whole pixel
    * buffer and OOM the executor. Undecodable, empty, or non-image
    * payloads (audio/video — no JDK codec) are CONTAINED as ok=false
    * rows (the empty-text guard analog, reference app_callapi.py:112),
    * never an executor-killing throw; a real deployment swaps its
    * pixel decode into the same spot, bounding width×height first. */
  def decodeImage(media: Dataset[MediaRow]): Dataset[DecodedMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init: keep ImageIO off its disk scratch cache —
      // per-row temp-file churn on executors for zero benefit
      javax.imageio.ImageIO.setUseCache(false)
      it.map { row =>
        if (row.content.isEmpty) DecodedMeta(row.media_id, row.modality, 0, 0, ok = false)
        else
          try {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(row.content))
            try {
              val readers = javax.imageio.ImageIO.getImageReaders(iis)
              if (!readers.hasNext) DecodedMeta(row.media_id, row.modality, 0, 0, ok = false)
              else {
                val r = readers.next()
                try {
                  r.setInput(iis)
                  // header-only; a bounded `r.read(0)` goes here when
                  // pixel work is needed
                  DecodedMeta(row.media_id, row.modality, r.getWidth(0), r.getHeight(0),
                    ok = true)
                } finally r.dispose()
              }
            } finally if (iis != null) iis.close()
          } catch {
            case _: Exception => DecodedMeta(row.media_id, row.modality, 0, 0, ok = false)
          }
      }
    }
  }

  /** Container metadata recovered from a media payload's HEADER bytes
    * (never the sample data): WAV/RIFF `fmt `/`data` chunks, MP4
    * `moov`/`mvhd`/`tkhd` boxes. Fields a container doesn't carry are
    * -1 (e.g. width for audio, sample_rate for an MP4 header — stsd,
    * where MP4 keeps codec sample rates, is codec territory, not
    * container territory). */
  case class MediaContainerMeta(media_id: Long, modality: String, container: String,
                                sample_rate: Int, channels: Int, bits_per_sample: Int,
                                width: Int, height: Int, duration_ms: Long, ok: Boolean)

  private def leU16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def leU32(b: Array[Byte], off: Int): Long =
    (leU16(b, off).toLong) | (leU16(b, off + 2).toLong << 16)
  private def beU32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def beU64(b: Array[Byte], off: Int): Long =
    (beU32(b, off) << 32) | beU32(b, off + 4)
  private def fourCC(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** WAV/RIFF header walk: `RIFF....WAVE` then (id, leU32 size) chunks
    * to word-aligned boundaries; `fmt ` yields channels/rate/bits,
    * `data`'s DECLARED size yields duration (declared, so a truncated
    * tail payload still reports its intended length — header-only, no
    * sample-data scan). */
  private def parseWav(id: Long, modality: String, b: Array[Byte]): Option[MediaContainerMeta] = {
    if (b.length < 12 || fourCC(b, 0) != "RIFF" || fourCC(b, 8) != "WAVE") return None
    var off = 12
    var channels = -1; var rate = -1; var bits = -1; var byteRate = -1L; var dataBytes = -1L
    while (off + 8 <= b.length) {
      val cid = fourCC(b, off); val sz = leU32(b, off + 4)
      if (cid == "fmt " && sz >= 16 && off + 8 + 16 <= b.length) {
        channels = leU16(b, off + 10); rate = leU32(b, off + 12).toInt
        byteRate = leU32(b, off + 16); bits = leU16(b, off + 22)
      } else if (cid == "data") dataBytes = sz
      // chunks pad to even offsets; a size ≥ 2^31 (corrupt) would go
      // negative on toInt and walk backwards — abort the walk instead
      val szi = sz.toInt
      if (szi < 0) off = b.length else off += 8 + szi + (szi & 1)
    }
    if (channels < 0 || dataBytes < 0 || byteRate <= 0) None
    else Some(MediaContainerMeta(id, modality, "wav", rate, channels, bits, -1, -1,
      dataBytes * 1000L / byteRate, ok = true))
  }

  /** MP4 box walk (ISO 14496-12): big-endian (size, 4CC type) boxes;
    * `moov` recursed for `mvhd` (timescale + duration, v0/v1) and
    * `trak`/`tkhd` (16.16 fixed-point presentation width/height,
    * v0/v1). Only box headers are touched — `mdat` (the sample data,
    * ~all the bytes at scale) is skipped by its declared size. */
  private def parseMp4(id: Long, modality: String, b: Array[Byte]): Option[MediaContainerMeta] = {
    if (b.length < 8 || fourCC(b, 4) != "ftyp") return None
    var timescale = -1L; var duration = -1L; var width = -1; var height = -1
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var off = from
      while (off + 8 <= to) {
        val sz = beU32(b, off); val typ = fourCC(b, off + 4)
        if (sz < 8 || off + sz > to) return // malformed size: stop, keep what we have
        val p = off + 8 // payload start
        typ match {
          case "moov" | "trak" if depth < 4 => walk(p, off + sz.toInt, depth + 1)
          case "mvhd" if p + 4 <= to =>
            val v = b(p) & 0xff
            if (v == 1 && p + 28 <= to) { timescale = beU32(b, p + 20); duration = beU64(b, p + 24) }
            else if (v == 0 && p + 20 <= to) { timescale = beU32(b, p + 12); duration = beU32(b, p + 16) }
          case "tkhd" if p + 4 <= to =>
            val v = b(p) & 0xff
            val wOff = if (v == 1) p + 88 else p + 76
            if (wOff + 8 <= to) { width = (beU32(b, wOff) >> 16).toInt; height = (beU32(b, wOff + 4) >> 16).toInt }
          case _ => ()
        }
        off += sz.toInt
      }
    }
    walk(0, b.length, 0)
    if (timescale <= 0) None
    else Some(MediaContainerMeta(id, modality, "mp4", -1, -1, -1, width, height,
      duration * 1000L / timescale, ok = true))
  }

  /** Audio/video twin of [[decodeImage]]: recover container metadata
    * from WAV/RIFF and MP4 payloads with JDK-only header parsers, in
    * the same map-only mapPartitions batch shape. Unrecognized,
    * truncated, or corrupt payloads are CONTAINED as ok=false rows. */
  def decodeMedia(media: Dataset[MediaRow]): Dataset[MediaContainerMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { row =>
        val contained = MediaContainerMeta(row.media_id, row.modality, "unknown",
          -1, -1, -1, -1, -1, -1L, ok = false)
        try {
          parseWav(row.media_id, row.modality, row.content)
            .orElse(parseMp4(row.media_id, row.modality, row.content))
            .getOrElse(contained)
        } catch { case _: Exception => contained }
      }
    }
  }

  /** Canonical 44-byte-header WAV bytes (PCM, zeroed samples). */
  def wavBytes(sampleRate: Int, channels: Int, bitsPerSample: Int, nDataBytes: Int): Array[Byte] = {
    val byteRate = sampleRate * channels * (bitsPerSample / 8)
    val bb = java.nio.ByteBuffer.allocate(44 + nDataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + nDataBytes)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate).putInt(byteRate)
      .putShort((channels * bitsPerSample / 8).toShort).putShort(bitsPerSample.toShort)
      .put("data".getBytes("US-ASCII")).putInt(nDataBytes)
    bb.array()
  }

  /** Minimal valid MP4: ftyp + moov(mvhd v0 + trak(tkhd v0)). */
  def mp4Bytes(timescale: Int, duration: Int, width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + 216) // ftyp 16 + moov 216
    bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0x200)
    bb.putInt(216).put("moov".getBytes("US-ASCII"))
    bb.putInt(108).put("mvhd".getBytes("US-ASCII")) // v0: 100-byte payload
      .putInt(0).putInt(0).putInt(0)                // ver/flags, creation, modification
      .putInt(timescale).putInt(duration)
      .putInt(0x00010000).putShort(0x0100.toShort)  // rate 1.0, volume 1.0
      .put(new Array[Byte](10))                     // reserved
      .put(new Array[Byte](36))                     // matrix (zeros are fine for a header test)
      .put(new Array[Byte](24))                     // pre_defined
      .putInt(2)                                    // next_track_ID
    bb.putInt(100).put("trak".getBytes("US-ASCII"))
    bb.putInt(92).put("tkhd".getBytes("US-ASCII"))  // v0: 84-byte payload
      .putInt(0).putInt(0).putInt(0)                // ver/flags, creation, modification
      .putInt(1).putInt(0).putInt(duration)         // track_ID, reserved, duration
      .put(new Array[Byte](8))                      // reserved
      .putShort(0).putShort(0).putShort(0).putShort(0) // layer, alt_group, volume, reserved
      .put(new Array[Byte](36))                     // matrix
      .putInt(width << 16).putInt(height << 16)     // 16.16 fixed point
    bb.array()
  }

  /** Deterministic container-bearing media table from `documents`:
    * even doc_ids become PCM WAVs, odd doc_ids become MP4s, every
    * header field a pure function of (doc_id, n_chars) — so a SQL
    * oracle can recompute what [[decodeMedia]] must recover and the
    * round-trip (synthesize → parse) is differential-testable. */
  def syntheticContainers(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)].mapPartitions { it =>
      it.map { case (docId, nChars) =>
        if (docId % 2 == 0) {
          val rate = 8000 + (docId % 10).toInt * 800
          val channels = 1 + ((docId % 4) / 2).toInt
          val dataBytes = (nChars % 256).toInt + 1
          MediaRow(docId, "audio", wavBytes(rate, channels, 16, dataBytes), -1, -1, rate, -1)
        } else {
          val w = (docId % 1920).toInt + 1; val h = (docId % 1080).toInt + 1
          MediaRow(docId, "video", mp4Bytes(600, nChars.toInt * 3, w, h), w, h, -1, -1)
        }
      }
    }
  }

  /** Frame sampling: every `stride`-th fixed-size block of the
    * payload becomes a "frame" (the video-keyframe-extraction shape:
    * one wide row in, several narrower rows out, still map-only). */
  def frameSample(media: Dataset[MediaRow], frameBytes: Int, stride: Int): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    media.flatMap { row =>
      Iterator.range(0, math.max(0, row.content.length - frameBytes + 1), frameBytes * stride)
        .zipWithIndex
        .map { case (off, idx) =>
          FrameSample(row.media_id, idx, java.util.Arrays.copyOfRange(row.content, off, off + frameBytes))
        }
    }
  }

  case class ImageHash(media_id: Long, ahash: Long, ok: Boolean)

  /** Deterministic pixel function behind [[syntheticPngs]] — pure in
    * (media_id, x, y) so the DuckDB oracle recomputes every pixel,
    * mean, and hash bit without decoding anything: 97 distinct base
    * patterns (gid = media_id % 97 ⇒ exact-duplicate image families),
    * and generation 1 (media_id div 97 == 1) perturbs ONE pixel by
    * +17 — a NEAR-duplicate image whose aHash differs in a few bits. */
  def pixelOf(mediaId: Long, x: Int, y: Int): Int = {
    val gid = mediaId % 97
    // +128 (half the range) so the perturbed pixel lands on the OTHER
    // side of the mean for (almost) every gid — a small additive
    // nudge often fails to cross the threshold and produces an
    // identical hash instead of a near-dup
    val perturb = if (mediaId / 97 == 1 && x == 3 && y == 2) 128 else 0
    // gid scales the ramp MULTIPLICATIVELY: an additive offset would
    // shift every pixel and the mean together, leaving the threshold
    // bits identical across gids (one giant hash family — measured
    // 4.2M pairs at sf0.1); distinct slopes wrap differently, so each
    // gid is its own pattern and pairs stay family-local
    (((gid + 3) * (x * 7 + y * 13 + 5) + perturb) % 256).toInt
  }

  /** REAL 8-bit grayscale 8×6 PNG bytes for [[pixelOf]]'s pattern —
    * javax.imageio encode, JDK-only. */
  def pngBytes(mediaId: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      8, 6, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < 6) {
      var x = 0
      while (x < 8) { r.setSample(x, y, 0, pixelOf(mediaId, x, y)); x += 1 }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** One real PNG per document — the image-dedup test substrate
    * (this environment has no media files; the pixels are a pure
    * function of media_id, so decode→hash is differentially provable
    * end to end, the media_metadata pattern). */
  def syntheticPngs(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map(id => MediaRow(id, "image", pngBytes(id), 8, 6, -1, -1))
    }
  }

  /** One 2×2-average-pooled thumbnail pixel. ok=false marks a
    * contained undecodable payload (coordinates −1). */
  case class ThumbPixel(media_id: Long, tx: Int, ty: Int, v: Int, ok: Boolean)

  /** Image RESIZE (box-filter downsample) over DECODED pixels — the
    * brief's resize step made real: decode the PNG, average-pool
    * non-overlapping 2×2 blocks (integer floor mean — the exact
    * arithmetic of a box filter at scale ½), emit one row per
    * thumbnail pixel. Because [[pixelOf]] is pure in (media_id, x, y)
    * the oracle recomputes every pooled value DECODER-FREE — the
    * image_phash differential proof applied to actual pixel
    * processing, not just hashing.
    *
    * Map-only mapPartitions decode like [[imageAHash]]; junk or
    * sub-2×2 payloads contain to one ok=false row. */
  def imageResize(media: Dataset[MediaRow]): Dataset[ThumbPixel] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { row =>
        val bad = Seq(ThumbPixel(row.media_id, -1, -1, -1, ok = false))
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(row.content))
          if (img == null || img.getWidth < 2 || img.getHeight < 2) bad
          else {
            val r = img.getRaster
            for {
              ty <- 0 until img.getHeight / 2
              tx <- 0 until img.getWidth / 2
            } yield {
              val s = r.getSample(2 * tx, 2 * ty, 0) +
                r.getSample(2 * tx + 1, 2 * ty, 0) +
                r.getSample(2 * tx, 2 * ty + 1, 0) +
                r.getSample(2 * tx + 1, 2 * ty + 1, 0)
              ThumbPixel(row.media_id, tx, ty, s / 4, ok = true)
            }
          }
        } catch { case _: Exception => bad }
      }
    }
  }

  /** Perceptual average-hash over DECODED pixels — the image twin of
    * text SimHash: bit i of the 48-bit signature is 1 iff sample i
    * (row-major, channel 0, first 48 samples — the 8×6 thumbnail
    * contract; a production pipeline downscales first) exceeds the
    * integer mean. Near-identical images differ in few bits, so the
    * SAME pigeonhole chunk join that powers `dedup_simhash` finds
    * image near-dups ([[imageNearDup]]). Map-only mapPartitions
    * decode; junk/truncated payloads are CONTAINED as ok=false. */
  def imageAHash(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { row =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(row.content))
          if (img == null || img.getWidth.toLong * img.getHeight < 2)
            ImageHash(row.media_id, 0L, ok = false)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val m = math.min(48, w * h)
            val raster = img.getRaster
            val px = new Array[Int](m)
            var i = 0
            var y = 0
            while (y < h && i < m) {
              var x = 0
              while (x < w && i < m) { px(i) = raster.getSample(x, y, 0); i += 1; x += 1 }
              y += 1
            }
            var sum = 0L
            i = 0
            while (i < m) { sum += px(i); i += 1 }
            val mu = sum / m
            var hash = 0L
            i = 0
            while (i < m) { if (px(i) > mu) hash |= (1L << i); i += 1 }
            ImageHash(row.media_id, hash, ok = true)
          }
        } catch {
          case _: Exception => ImageHash(row.media_id, 0L, ok = false)
        }
      }
    }
  }

  /** Image near-duplicate pairs: aHash signatures through the generic
    * pigeonhole hamming join ([[DedupOps.hammingBandPairs]]) — only
    * decodable images participate; candidates come from the 12-bit
    * chunk equi-join, never a cross join. */
  def imageNearDup(media: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    DedupOps.hammingBandPairs(
      imageAHash(media).filter(_.ok).toDF()
        .select(col("media_id").as("id"), col("ahash").as("sig")),
      maxHamming)

  case class AudioFp(media_id: Long, fp: Long, ok: Boolean)

  /** Fingerprint geometry: 48 delta-sign bits need 49 frame energies
    * of [[SamplesPerFrame]] samples each. */
  val FpFrames = 48
  val SamplesPerFrame = 4
  val FpSamples: Int = (FpFrames + 1) * SamplesPerFrame // 196

  /** Deterministic 16-bit PCM sample behind [[syntheticPcmWavs]] —
    * pure in (media_id, i) so the DuckDB oracle recomputes every
    * sample, frame energy, and fingerprint bit without any decoder
    * (the [[pixelOf]] pattern, audio edition). gid = media_id % 89
    * gives exact-duplicate waveform families; each gid's distinct
    * LCG step (37·(gid+5) mod 4096) wraps differently, so frame
    * energies — and fingerprints — are family-specific. Generation 1
    * (media_id div 89 == 1) perturbs ONE sample in frame 25 by
    * +1024: only energies e[25] changes, so only delta bits 24/25
    * can flip — a NEAR-duplicate at hamming ≤ 2. */
  def pcmSampleOf(mediaId: Long, i: Int): Int = {
    val gid = mediaId % 89
    val perturb = if (mediaId / 89 == 1 && i == 100) 1024 else 0
    ((((gid + 5) * (i * 37 + 11) + perturb) % 4096) - 2048).toInt
  }

  /** REAL 16-bit mono little-endian PCM WAV bytes carrying
    * [[pcmSampleOf]]'s waveform — the audio-dedup test substrate. */
  def pcmWavBytes(mediaId: Long): Array[Byte] = {
    val b = wavBytes(16000, 1, 16, FpSamples * 2)
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(44)
    var i = 0
    while (i < FpSamples) { bb.putShort(pcmSampleOf(mediaId, i).toShort); i += 1 }
    b
  }

  /** One real PCM WAV per document (see [[syntheticPngs]]). */
  def syntheticPcmWavs(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map(id => MediaRow(id, "audio", pcmWavBytes(id), -1, -1, 16000, -1))
    }
  }

  /** RIFF walk to the `data` chunk, decoded as signed LE16 samples.
    * Truncated payloads yield only the samples actually present;
    * non-WAV bytes yield None. */
  private def pcmSamples(b: Array[Byte]): Option[Array[Int]] = {
    if (b.length < 12 || fourCC(b, 0) != "RIFF" || fourCC(b, 8) != "WAVE") return None
    var off = 12
    while (off + 8 <= b.length) {
      val cid = fourCC(b, off); val szi = leU32(b, off + 4).toInt
      if (szi < 0) return None // corrupt size would walk backwards
      if (cid == "data") {
        val n = math.min(szi, b.length - off - 8) / 2
        val out = new Array[Int](math.max(n, 0))
        var i = 0
        while (i < out.length) { out(i) = leU16(b, off + 8 + 2 * i).toShort.toInt; i += 1 }
        return Some(out)
      }
      off += 8 + szi + (szi & 1)
    }
    None
  }

  /** Chromaprint-shaped fingerprint over DECODED PCM samples — the
    * audio twin of [[imageAHash]]: frame the first 196 samples into
    * 49 frames of 4, energy e[f] = Σ s², bit f = 1 iff
    * e[f] > e[f+1] (the delta-sign filter at the heart of acoustic
    * fingerprinting — level-invariant shape, not absolute energy).
    * Map-only mapPartitions; junk/short payloads CONTAINED as
    * ok=false, never a throw. */
  def audioFingerprint(media: Dataset[MediaRow]): Dataset[AudioFp] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { row =>
        try {
          pcmSamples(row.content) match {
            case Some(s) if s.length >= FpSamples =>
              val e = new Array[Long](FpFrames + 1)
              var f = 0
              while (f <= FpFrames) {
                var j = 0; var acc = 0L
                while (j < SamplesPerFrame) {
                  val v = s(f * SamplesPerFrame + j).toLong; acc += v * v; j += 1
                }
                e(f) = acc; f += 1
              }
              var fp = 0L
              f = 0
              while (f < FpFrames) { if (e(f) > e(f + 1)) fp |= (1L << f); f += 1 }
              AudioFp(row.media_id, fp, ok = true)
            case _ => AudioFp(row.media_id, 0L, ok = false)
          }
        } catch { case _: Exception => AudioFp(row.media_id, 0L, ok = false) }
      }
    }
  }

  /** Audio near-duplicate pairs: fingerprints through the generic
    * pigeonhole hamming join — exact waveform copies pair at
    * hamming 0, the one-sample-perturbed generation at ≤ 2 bits;
    * candidates come from the 12-bit chunk equi-join, never a cross
    * join ([[imageNearDup]], audio edition). */
  def audioNearDup(media: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    DedupOps.hammingBandPairs(
      audioFingerprint(media).filter(_.ok).toDF()
        .select(col("media_id").as("id"), col("fp").as("sig")),
      maxHamming)

  /** The multimodal DEDUP CAPSTONE — the pretrain_pipeline/web_ingest
    * composition convention on the media tier (r14 verdict #3):
    * decode → fingerprint ([[imageAHash]] / [[audioFingerprint]]) →
    * pigeonhole hamming near-dup ([[DedupOps.hammingBandPairs]]) →
    * cluster ([[DedupOps.connectedComponents]]) → golden record →
    * per-stage funnel, one row per modality. Every kernel is already
    * oracle-pinned solo; this row pins their COMPOSITION.
    *
    * Funnel columns: media in → decodable → near-dup pairs →
    * clustered members / clusters → survivors after keeping ONE
    * golden per cluster (n_kept = n_decoded − n_clustered +
    * n_clusters). `golden_id_sum` pins WHICH goldens survive (the
    * min-id representative per component — summing the distinct
    * component ids makes representative selection a hash-checked
    * value, not just a count).
    *
    * Scale shape: decode/fingerprint are the mapPartitions kernels
    * (map-only) and run ONCE per modality — the fingerprint pass
    * emits a row per media whether or not it decodes (ok = false on
    * corrupt payloads), so n_media AND n_decoded both read off the
    * one checkpointed hash table (a separate media count would
    * re-synthesize/re-scan the payload column); candidates are the
    * 12-bit chunk equi-join, never a cross join; CC runs on the
    * near-dup PAIR list (tiny vs the media corpus); every census is
    * a 1-row agg crossJoin. At 100 TB the funnel prices each stage
    * before the next runs — exactly the order a media-curation job
    * wants its row counts audited in. */
  def multimodalPipeline(images: Dataset[MediaRow], wavs: Dataset[MediaRow],
                         maxHamming: Int = 3): DataFrame = {
    // hashed: (id, sig, ok) — one decode pass per modality
    def leg(modality: String, hashed: DataFrame): DataFrame = {
      val h = hashed.localCheckpoint(false)
      val s = h.filter(col("ok")).select(col("id"), col("sig"))
      val pairs = DedupOps.hammingBandPairs(s, maxHamming)
        .select(col("a_id"), col("b_id")).localCheckpoint(false)
      val clusters = DedupOps.connectedComponents(pairs).localCheckpoint(false)
      h.agg(count(lit(1)).as("n_media"),
          coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)).as("n_decoded"))
        .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
        .crossJoin(broadcast(clusters.agg(
          count(lit(1)).as("n_clustered"),
          countDistinct(col("component_id")).as("n_clusters"))))
        .crossJoin(broadcast(clusters.select(col("component_id")).distinct()
          .agg(coalesce(sum(col("component_id")), lit(0L)).as("golden_id_sum"))))
        .select(lit(modality).as("modality"), col("n_media"), col("n_decoded"),
          col("n_pairs"), col("n_clustered"), col("n_clusters"),
          (col("n_decoded") - col("n_clustered") + col("n_clusters")).as("n_kept"),
          col("golden_id_sum"))
    }
    // the two legs are fully independent job chains (each runs its own
    // CC contraction loop of driver-blocking rounds) — run them as
    // parallel Legs; the output union order stays fixed (image, audio)
    // regardless of completion order
    val Seq(imageLeg, audioLeg) = Legs(
      () => leg("image", imageAHash(images).toDF()
        .select(col("media_id").as("id"), col("ahash").as("sig"), col("ok"))),
      () => leg("audio", audioFingerprint(wavs).toDF()
        .select(col("media_id").as("id"), col("fp").as("sig"), col("ok"))))
    imageLeg.unionByName(audioLeg)
  }

  /** One demuxed video sample (frame): presentation order index,
    * timestamp in track ticks, byte extent in the container, and
    * whether the sample is a sync (key) frame. ok=false marks a
    * contained corrupt/truncated payload (sample_idx −1). */
  case class VideoFrame(media_id: Long, sample_idx: Int, pts_ticks: Long,
                        offset: Long, size: Long, keyframe: Boolean, ok: Boolean)

  /** Deterministic MP4 WITH REAL SAMPLE TABLES, pure in media_id —
    * the differential substrate for [[videoFrames]] (the image_phash /
    * audio_fingerprint proof pattern, video edition): ftyp + moov
    * (mvhd, trak(tkhd, mdia(mdhd, minf(stbl(stts, stsz, stco,
    * stss))))) + mdat. Every table entry is integer arithmetic on
    * media_id — n = id%7+4 samples, tick delta 100+(id%5)·20 at
    * timescale 600, size_i = 50+((id·31+i·17)%100), one chunk at
    * offset 376+4n+4nk, sync samples every 3rd from 1 — so a SQL
    * oracle recomputes every frame row the demuxer must emit without
    * parsing a byte. */
  def mp4SampleTableBytes(mediaId: Long): Array[Byte] = {
    def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
    val n = (mediaId % 7).toInt + 4
    val delta = 100 + (mediaId % 5).toInt * 20
    val nk = (n + 2) / 3
    val sizes = (0 until n).map(i => 50 + ((mediaId * 31 + i * 17) % 100).toInt)
    val stblSz = 88 + 4 * n + 4 * nk // 8 + stts 24 + stsz (20+4n) + stco 20 + stss (16+4nk)
    val minfSz = 8 + stblSz
    val mdiaSz = 8 + 32 + minfSz
    val trakSz = 8 + 92 + mdiaSz
    val moovSz = 8 + 108 + trakSz // = 352 + 4n + 4nk
    val mdatPayload = sizes.sum
    val chunkOffset = 16 + moovSz + 8 // = 376 + 4n + 4nk
    val bb = java.nio.ByteBuffer.allocate(16 + moovSz + 8 + mdatPayload)
    bb.putInt(16).put(ascii("ftyp")).put(ascii("isom")).putInt(0x200)
    bb.putInt(moovSz).put(ascii("moov"))
    bb.putInt(108).put(ascii("mvhd")) // v0, timescale 600, duration n·delta
      .putInt(0).putInt(0).putInt(0)
      .putInt(600).putInt(n * delta)
      .putInt(0x00010000).putShort(0x0100.toShort)
      .put(new Array[Byte](10)).put(new Array[Byte](36)).put(new Array[Byte](24))
      .putInt(2)
    bb.putInt(trakSz).put(ascii("trak"))
    bb.putInt(92).put(ascii("tkhd")) // v0
      .putInt(0).putInt(0).putInt(0)
      .putInt(1).putInt(0).putInt(n * delta)
      .put(new Array[Byte](8))
      .putShort(0).putShort(0).putShort(0).putShort(0)
      .put(new Array[Byte](36))
      .putInt(((mediaId % 640).toInt + 1) << 16).putInt(((mediaId % 480).toInt + 1) << 16)
    bb.putInt(mdiaSz).put(ascii("mdia"))
    bb.putInt(32).put(ascii("mdhd")) // v0: ts 600, duration n·delta, und language
      .putInt(0).putInt(0).putInt(0).putInt(600).putInt(n * delta)
      .putShort(0x55c4.toShort).putShort(0)
    bb.putInt(minfSz).put(ascii("minf"))
    bb.putInt(stblSz).put(ascii("stbl"))
    bb.putInt(24).put(ascii("stts")).putInt(0).putInt(1).putInt(n).putInt(delta)
    bb.putInt(20 + 4 * n).put(ascii("stsz")).putInt(0).putInt(0).putInt(n)
    sizes.foreach(bb.putInt)
    bb.putInt(20).put(ascii("stco")).putInt(0).putInt(1).putInt(chunkOffset)
    bb.putInt(16 + 4 * nk).put(ascii("stss")).putInt(0).putInt(nk)
    (1 to n by 3).foreach(bb.putInt)
    bb.putInt(8 + mdatPayload).put(ascii("mdat"))
    var i = 0
    while (i < mdatPayload) { bb.put(((chunkOffset + i) % 251).toByte); i += 1 }
    bb.array()
  }

  /** Sample-table-bearing synthetic video corpus: odd doc_ids (the
    * [[syntheticContainers]] video half), payload =
    * [[mp4SampleTableBytes]]. */
  def syntheticVideos(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.filter(col("doc_id") % 2 === 1).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "video", mp4SampleTableBytes(id),
          (id % 640).toInt + 1, (id % 480).toInt + 1, -1, -1)
      })
  }

  /** VIDEO FRAME-SAMPLE demux — the sample-table walk behind keyframe
    * extraction: parse stts (decode deltas), stsz (byte sizes), stco
    * (chunk offsets) and stss (sync samples) out of the stbl and emit
    * one row per sample with its presentation tick, byte extent, and
    * keyframe flag — the exact plan a downstream decode stage
    * (`frameSample` / a Pandas-UDF decoder at 100 TB) consumes to
    * read ONLY keyframe byte ranges instead of the whole mdat.
    *
    * Header-only and map-only like [[decodeMedia]]: sample DATA is
    * never touched; the single-chunk contiguous layout (no stsc ⇒
    * chunk 0 holds all samples back to back) is resolved to absolute
    * offsets by a running size sum, and a sample extending past the
    * payload end is flagged ok=false rather than thrown. Unparseable
    * payloads contain to one ok=false row ([[decodeMedia]]'s
    * discipline).
    *
    * Reference: the reference has no video path at all (app.py:17-39
    * reads PDF/DOCX only) — this is north-star multimodal surface. */
  def videoFrames(media: Dataset[MediaRow]): Dataset[VideoFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { row =>
        demuxSamples(row.content) match {
          case None => Seq(VideoFrame(row.media_id, -1, -1L, -1L, -1L,
            keyframe = false, ok = false))
          case Some(samples) => samples.map { s =>
            VideoFrame(row.media_id, s.idx, s.pts, s.off, s.size, s.sync,
              ok = s.off + s.size <= row.content.length)
          }
        }
      }
    }
  }

  /** One demuxed sample extent (shared by [[videoFrames]] and
    * [[videoKeyframes]]): 1-based index, presentation ticks, absolute
    * byte offset/size in the container, sync flag. */
  private[graft] case class SampleExtent(idx: Int, pts: Long, off: Long,
                                         size: Long, sync: Boolean)

  /** The stts/stsz/stco/stss walk — header-only, sample DATA is never
    * touched. Returns None for junk/truncated/table-less payloads (the
    * caller contains that as its ok=false row). Single-chunk
    * contiguous layout (no stsc ⇒ chunk 0 holds all samples back to
    * back) resolved to absolute offsets by a running size sum. */
  private[graft] def demuxSamples(b: Array[Byte]): Option[Seq[SampleExtent]] =
    try {
      if (b.length < 8 || fourCC(b, 4) != "ftyp") None
      else {
        var sttsE: Array[(Long, Long)] = null
        var sizesE: Array[Long] = null
        var chunksE: Array[Long] = null
        var syncE: Array[Long] = null
        def walk(from: Int, to: Int, depth: Int): Unit = {
          var off = from
          while (off + 8 <= to) {
            val sz = beU32(b, off); val typ = fourCC(b, off + 4)
            if (sz < 8 || off + sz > to) return
            val p = off + 8
            typ match {
              case "moov" | "trak" | "mdia" | "minf" | "stbl" if depth < 6 =>
                walk(p, off + sz.toInt, depth + 1)
              case "stts" if p + 8 <= to =>
                val cnt = beU32(b, p + 4).toInt
                if (p + 8 + 8L * cnt <= to)
                  sttsE = Array.tabulate(cnt)(e =>
                    (beU32(b, p + 8 + 8 * e), beU32(b, p + 12 + 8 * e)))
              case "stsz" if p + 12 <= to =>
                val fixed = beU32(b, p + 4); val cnt = beU32(b, p + 8).toInt
                // fixed-size branch has no table to bound-check the
                // count against — cap it so a corrupt header can't
                // allocate unbounded (2^22 samples ≫ any real track
                // this demuxer will meet; larger counts are junk)
                if (fixed != 0 && cnt >= 0 && cnt <= (1 << 22))
                  sizesE = Array.fill(cnt)(fixed)
                else if (p + 12 + 4L * cnt <= to)
                  sizesE = Array.tabulate(cnt)(e => beU32(b, p + 12 + 4 * e))
              case "stco" if p + 8 <= to =>
                val cnt = beU32(b, p + 4).toInt
                if (p + 8 + 4L * cnt <= to)
                  chunksE = Array.tabulate(cnt)(e => beU32(b, p + 8 + 4 * e))
              case "stss" if p + 8 <= to =>
                val cnt = beU32(b, p + 4).toInt
                if (p + 8 + 4L * cnt <= to)
                  syncE = Array.tabulate(cnt)(e => beU32(b, p + 8 + 4 * e))
              case _ => ()
            }
            off += sz.toInt
          }
        }
        walk(0, b.length, 0)
        if (sttsE == null || sizesE == null || chunksE == null ||
            chunksE.isEmpty) None
        else {
          val deltas = sttsE.flatMap { case (c, d) =>
            Iterator.fill(math.min(c, sizesE.length.toLong).toInt)(d) }
          val n = sizesE.length
          if (deltas.length != n) None
          else {
            val sync: Set[Long] =
              if (syncE == null) (1 to n).map(_.toLong).toSet else syncE.toSet
            var pts = 0L; var off = chunksE(0)
            Some((1 to n).map { si =>
              val s = SampleExtent(si, pts, off, sizesE(si - 1),
                sync.contains(si.toLong))
              pts += deltas(si - 1); off += sizesE(si - 1); s
            })
          }
        }
      }
    } catch { case _: Exception => None }

  /** The per-keyframe PNG id — a pure spread of (media_id, sample
    * index) so each keyframe's pixels are their own [[pixelOf]]
    * pattern and the oracle recomputes them per (media, sample). */
  def keyframeImageId(mediaId: Long, sampleIdx: Int): Long =
    mediaId * 7919L + sampleIdx

  /** [[mp4SampleTableBytes]] with DECODABLE keyframes: the same ftyp/
    * moov skeleton and arithmetic sample count/timing, but every sync
    * sample's byte extent holds a REAL PNG ([[pngBytes]] of
    * [[keyframeImageId]]) and its stsz entry is that PNG's true byte
    * length; non-sync extents keep the ramp filler. The sample-table
    * layout (chunk offset 376+4n+4nk) is size-independent, so the
    * demuxed extents land exactly on the PNGs — the substrate for
    * [[videoKeyframes]]' range-read + decode. */
  def mp4KeyframeVideoBytes(mediaId: Long): Array[Byte] = {
    def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
    val n = (mediaId % 7).toInt + 4
    val delta = 100 + (mediaId % 5).toInt * 20
    val nk = (n + 2) / 3
    val payloads: IndexedSeq[Array[Byte]] = (1 to n).map { si =>
      if (si % 3 == 1) pngBytes(keyframeImageId(mediaId, si))
      else {
        val len = 50 + ((mediaId * 31 + (si - 1) * 17) % 100).toInt
        Array.tabulate[Byte](len)(j => ((si * 131 + j) % 251).toByte)
      }
    }
    val sizes = payloads.map(_.length)
    val stblSz = 88 + 4 * n + 4 * nk
    val minfSz = 8 + stblSz
    val mdiaSz = 8 + 32 + minfSz
    val trakSz = 8 + 92 + mdiaSz
    val moovSz = 8 + 108 + trakSz
    val mdatPayload = sizes.sum
    val chunkOffset = 16 + moovSz + 8
    val bb = java.nio.ByteBuffer.allocate(16 + moovSz + 8 + mdatPayload)
    bb.putInt(16).put(ascii("ftyp")).put(ascii("isom")).putInt(0x200)
    bb.putInt(moovSz).put(ascii("moov"))
    bb.putInt(108).put(ascii("mvhd"))
      .putInt(0).putInt(0).putInt(0)
      .putInt(600).putInt(n * delta)
      .putInt(0x00010000).putShort(0x0100.toShort)
      .put(new Array[Byte](10)).put(new Array[Byte](36)).put(new Array[Byte](24))
      .putInt(2)
    bb.putInt(trakSz).put(ascii("trak"))
    bb.putInt(92).put(ascii("tkhd"))
      .putInt(0).putInt(0).putInt(0)
      .putInt(1).putInt(0).putInt(n * delta)
      .put(new Array[Byte](8))
      .putShort(0).putShort(0).putShort(0).putShort(0)
      .put(new Array[Byte](36))
      .putInt(8 << 16).putInt(6 << 16)
    bb.putInt(mdiaSz).put(ascii("mdia"))
    bb.putInt(32).put(ascii("mdhd"))
      .putInt(0).putInt(0).putInt(0).putInt(600).putInt(n * delta)
      .putShort(0x55c4.toShort).putShort(0)
    bb.putInt(minfSz).put(ascii("minf"))
    bb.putInt(stblSz).put(ascii("stbl"))
    bb.putInt(24).put(ascii("stts")).putInt(0).putInt(1).putInt(n).putInt(delta)
    bb.putInt(20 + 4 * n).put(ascii("stsz")).putInt(0).putInt(0).putInt(n)
    sizes.foreach(bb.putInt)
    bb.putInt(20).put(ascii("stco")).putInt(0).putInt(1).putInt(chunkOffset)
    bb.putInt(16 + 4 * nk).put(ascii("stss")).putInt(0).putInt(nk)
    (1 to n by 3).foreach(bb.putInt)
    bb.putInt(8 + mdatPayload).put(ascii("mdat"))
    payloads.foreach(bb.put)
    bb.array()
  }

  /** Keyframe-bearing synthetic video corpus: odd doc_ids, payload =
    * [[mp4KeyframeVideoBytes]]. */
  def syntheticKeyframeVideos(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.filter(col("doc_id") % 2 === 1).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map(id => MediaRow(id, "video", mp4KeyframeVideoBytes(id), 8, 6, -1, -1))
      }
  }

  /** One decoded keyframe: decoded dimensions and the integer pixel
    * sum. ok=false marks either an unparseable container (sample_idx
    * −1) or an individual keyframe extent that didn't decode. */
  case class KeyframePixels(media_id: Long, sample_idx: Int, pts_ticks: Long,
                            width: Int, height: Int, px_sum: Long, ok: Boolean)

  /** VIDEO KEYFRAME DECODE — the stage [[videoFrames]]' scaladoc
    * promises: walk the sample table, slice ONLY the sync samples'
    * byte ranges out of the container (non-key extents are never
    * read — at 100 TB that is the difference between reading ~1/3 of
    * the mdat and all of it; with a ranged object-store GET, between
    * reading keyframe bytes and the whole file), and REALLY decode
    * each range with ImageIO, emitting the decoded dimensions and
    * pixel sum. Because the fixture's keyframe pixels are
    * [[pixelOf]]-pure in [[keyframeImageId]], the DuckDB oracle
    * recomputes every decoded value without a decoder — the
    * image_phash differential proof applied to demux+range-read+
    * decode end to end.
    *
    * Map-only mapPartitions like [[imageAHash]]; junk/truncated
    * containers contain to one ok=false row, an individually
    * undecodable keyframe extent to its own ok=false row. */
  def videoKeyframes(media: Dataset[MediaRow]): Dataset[KeyframePixels] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { row =>
        val bad = Seq(KeyframePixels(row.media_id, -1, -1L, -1, -1, -1L,
          ok = false))
        demuxSamples(row.content) match {
          case None => bad
          case Some(samples) =>
            samples.filter(_.sync).map { s =>
              try {
                if (s.off < 0 || s.size <= 0 ||
                    s.off + s.size > row.content.length)
                  KeyframePixels(row.media_id, s.idx, s.pts, -1, -1, -1L,
                    ok = false)
                else {
                  val slice = java.util.Arrays.copyOfRange(
                    row.content, s.off.toInt, (s.off + s.size).toInt)
                  val img = javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(slice))
                  if (img == null)
                    KeyframePixels(row.media_id, s.idx, s.pts, -1, -1, -1L,
                      ok = false)
                  else {
                    val (w, h) = (img.getWidth, img.getHeight)
                    val r = img.getRaster
                    var sum = 0L; var y = 0
                    while (y < h) {
                      var x = 0
                      while (x < w) { sum += r.getSample(x, y, 0); x += 1 }
                      y += 1
                    }
                    KeyframePixels(row.media_id, s.idx, s.pts, w, h, sum,
                      ok = true)
                  }
                }
              } catch {
                case _: Exception =>
                  KeyframePixels(row.media_id, s.idx, s.pts, -1, -1, -1L,
                    ok = false)
              }
            }
        }
      }
    }
  }

  /** Synthesize a deterministic media table from the documents table
    * (text bytes as payload) — the test/bench substrate given this
    * environment has no real media files. */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("modality"),
      encode(col("text"), "UTF-8").as("content"),
      (col("doc_id") % 640 + 1).cast("int").as("width"),
      (col("doc_id") % 480 + 1).cast("int").as("height"),
      lit(16000).as("sample_rate"),
      (col("n_chars") % 100 + 1).cast("int").as("n_frames"))
      .as[MediaRow]
  }
  /** DFT analysis bins (harmonics of the 64-sample frame) and their
    * FIXED-POINT trig tables in integer micros — the shared kernel of
    * [[audioSpectrogram]] and its oracle: SparkEntry renders these
    * exact Long values into the DuckDB VALUES literal, so both
    * engines multiply identical integers and no libm cos ever enters
    * the comparison. */
  val DftBins: Array[Int] = Array(1, 2, 4, 8)
  lazy val dftCosMicro: Array[Array[Long]] = DftBins.map(k =>
    Array.tabulate(64)(n => Math.round(math.cos(2 * math.Pi * k * n / 64) * 1e6)))
  lazy val dftSinMicro: Array[Array[Long]] = DftBins.map(k =>
    Array.tabulate(64)(n => Math.round(math.sin(2 * math.Pi * k * n / 64) * 1e6)))

  /** One spectrogram cell: frame (0..2, 64-sample hop), analysis bin
    * (harmonic index), integer energy, and whether this bin dominates
    * its frame. frame = −1 marks a contained junk/short payload. */
  case class SpectroRow(media_id: Long, frame: Int, bin: Int,
                        energy: Long, dominant: Boolean)

  /** Short-time DFT spectrogram over DECODED PCM — the frequency-
    * domain member of the audio family ([[audioFingerprint]] reads
    * time-domain energy deltas; this reads WHERE the energy lives):
    * 3 non-overlapping 64-sample frames × 4 harmonic bins, energy =
    * (Σs·cos)² + (Σs·sin)² in pure Long arithmetic against the
    * fixed-point trig tables (micros products floor-scaled to millis
    * before squaring so the square stays inside Long), dominant-bin
    * argmax with the lowest-bin tie-break. The waveform is pure in
    * media_id, so the oracle recomputes every sample, correlation,
    * and energy decoder-free — the [[audioFingerprint]] differential
    * proof lifted to the frequency domain.
    *
    * Scale shape: map-only mapPartitions decode+DFT (768 integer
    * multiplies per row), 12 output rows per media; junk/truncated
    * payloads CONTAINED as frame = −1, never a throw. */
  def audioSpectrogram(media: Dataset[MediaRow]): Dataset[SpectroRow] = {
    import media.sparkSession.implicits._
    val cosT = dftCosMicro; val sinT = dftSinMicro; val bins = DftBins
    media.flatMap { row =>
      try {
        pcmSamples(row.content) match {
          case Some(s) if s.length >= 192 =>
            (0 until 3).flatMap { f =>
              val energies = bins.indices.map { bi =>
                var c = 0L; var sn = 0L; var n = 0
                while (n < 64) {
                  val v = s(f * 64 + n).toLong
                  c += v * cosT(bi)(n); sn += v * sinT(bi)(n); n += 1
                }
                val cm = Math.floorDiv(c, 1000L)
                val sm = Math.floorDiv(sn, 1000L)
                cm * cm + sm * sm
              }
              val dom = energies.indices.minBy(i => (-energies(i), i))
              energies.indices.map(bi =>
                SpectroRow(row.media_id, f, bins(bi), energies(bi), bi == dom))
            }
          case _ => Seq(SpectroRow(row.media_id, -1, -1, 0L, dominant = false))
        }
      } catch {
        case _: Exception => Seq(SpectroRow(row.media_id, -1, -1, 0L, dominant = false))
      }
    }
  }
}
