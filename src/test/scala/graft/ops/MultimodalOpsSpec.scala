package graft.ops

import graft.SparkSpec
import graft.ops.MultimodalOps._
import org.apache.spark.sql.functions._

class MultimodalOpsSpec extends SparkSpec {
  import spark.implicits._

  private def media = Seq(
    MediaRow(0L, "image", Array.tabulate(256)(_.toByte), 640, 480, -1, -1),
    MediaRow(1L, "audio", Array.fill(64)(0.toByte), -1, -1, 16000, -1),
    MediaRow(2L, "video", Array[Byte](), -1, -1, -1, 0)
  ).toDS()

  test("featurize: normalized byte histogram per row, empty payload safe") {
    val f = featurize(media, nBins = 16).collect().map(r => r.media_id -> r).toMap
    assert(math.abs(f(0L).histogram.sum - 1.0) < 1e-9) // uniform bytes → sums to 1
    assert(f(0L).histogram.forall(h => math.abs(h - 1.0 / 16) < 1e-9))
    assert(f(1L).histogram.head === 1.0) // all zero bytes in bin 0
    assert(f(2L).histogram.sum === 0.0) // empty payload → zero histogram, no NaN
  }

  test("decodeImage: real PNG/JPEG decode; junk + empty payloads contained as ok=false") {
    // real 2x3 PNG and 5x4 JPEG fixtures, generated by the same JDK
    // codec stack the operator uses
    def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, (x * 7 + y * 13) * 1000)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val rows = Seq(
      MediaRow(0L, "image", imageBytes(2, 3, "png"), -1, -1, -1, -1),
      MediaRow(1L, "image", imageBytes(5, 4, "jpg"), -1, -1, -1, -1),
      MediaRow(2L, "image", Array.tabulate(64)(_.toByte), -1, -1, -1, -1), // junk bytes
      MediaRow(3L, "video", Array[Byte](), -1, -1, -1, 0)
    ).toDS()
    val d = decodeImage(rows).collect().map(r => r.media_id -> r).toMap
    assert(d(0L).ok && d(0L).decoded_width === 2 && d(0L).decoded_height === 3)
    assert(d(1L).ok && d(1L).decoded_width === 5 && d(1L).decoded_height === 4)
    assert(!d(2L).ok && d(2L).decoded_width === 0)
    assert(!d(3L).ok)
  }

  test("decodeMedia: WAV header fields and declared-data duration recovered") {
    val rows = Seq(
      MediaRow(0L, "audio", wavBytes(16000, 2, 16, 1600), -1, -1, -1, -1),
      MediaRow(1L, "audio", wavBytes(8000, 1, 16, 4000), -1, -1, -1, -1),
      // truncated tail: header declares 64000 data bytes, payload holds 0 —
      // duration must still come from the DECLARED size (header-only walk)
      MediaRow(2L, "audio", wavBytes(32000, 1, 16, 64000).take(44), -1, -1, -1, -1)
    ).toDS()
    val d = decodeMedia(rows).collect().map(r => r.media_id -> r).toMap
    assert(d(0L).ok && d(0L).container === "wav")
    assert(d(0L).sample_rate === 16000 && d(0L).channels === 2 && d(0L).bits_per_sample === 16)
    assert(d(0L).duration_ms === 1600L * 1000 / (16000 * 2 * 2)) // 25 ms
    assert(d(1L).duration_ms === 4000L * 1000 / 16000) // 250 ms
    assert(d(2L).ok && d(2L).duration_ms === 64000L * 1000 / 64000) // 1000 ms
  }

  test("decodeMedia: MP4 mvhd v0/v1 duration and tkhd 16.16 dimensions recovered") {
    // v1 mvhd hand-built: 64-bit creation/modification/duration fields
    def mp4V1(timescale: Int, duration: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16 + 128)
      bb.putInt(16).put("ftyp".getBytes("US-ASCII")).put("isom".getBytes("US-ASCII")).putInt(0x200)
      bb.putInt(128).put("moov".getBytes("US-ASCII"))
      bb.putInt(120).put("mvhd".getBytes("US-ASCII"))
        .put(1.toByte).put(new Array[Byte](3)) // version 1 + flags
        .putLong(0L).putLong(0L).putInt(timescale).putLong(duration)
        .put(new Array[Byte](80))
      bb.array()
    }
    val rows = Seq(
      MediaRow(0L, "video", mp4Bytes(600, 1200, 320, 240), -1, -1, -1, -1),
      MediaRow(1L, "video", mp4V1(1000, 90000L), -1, -1, -1, -1)
    ).toDS()
    val d = decodeMedia(rows).collect().map(r => r.media_id -> r).toMap
    assert(d(0L).ok && d(0L).container === "mp4")
    assert(d(0L).duration_ms === 2000L && d(0L).width === 320 && d(0L).height === 240)
    assert(d(1L).ok && d(1L).duration_ms === 90000L && d(1L).width === -1)
  }

  test("decodeMedia: junk, truncated, and corrupt-size payloads contained as ok=false") {
    val corruptSize = wavBytes(16000, 1, 16, 8)
    // poison the fmt chunk size to 0xFFFFFFFF: the walk must abort, not spin
    val bb = java.nio.ByteBuffer.wrap(corruptSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(16, 0xFFFFFFFF)
    val rows = Seq(
      MediaRow(0L, "audio", Array.tabulate(64)(_.toByte), -1, -1, -1, -1),
      MediaRow(1L, "audio", "RIFF".getBytes("US-ASCII"), -1, -1, -1, -1),
      MediaRow(2L, "video", Array[Byte](), -1, -1, -1, -1),
      MediaRow(3L, "audio", corruptSize, -1, -1, -1, -1)
    ).toDS()
    assert(decodeMedia(rows).collect().forall(!_.ok))
  }

  test("syntheticContainers → decodeMedia round-trips the header spec") {
    val docs = (0L to 3L).map(i => (i, s"text$i", "en", "s0", 100L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = decodeMedia(syntheticContainers(spark, docs)).collect()
      .map(r => r.media_id -> r).toMap
    assert(d(0L).container === "wav" && d(0L).sample_rate === 8000 && d(0L).channels === 1)
    assert(d(2L).channels === 2 && d(2L).sample_rate === 8000 + 2 * 800)
    assert(d(1L).container === "mp4" && d(1L).width === 2 && d(1L).height === 2)
    assert(d(1L).duration_ms === 101L * 5) // timescale 600, units n_chars*3
    assert(d(3L).width === 4 && d(3L).duration_ms === 103L * 5)
  }

  test("frameSample: fixed-size frames at stride, short payloads yield none") {
    val frames = frameSample(media, frameBytes = 32, stride = 2).collect()
    val byId = frames.groupBy(_.media_id)
    assert(byId(0L).forall(_.frame.length === 32))
    assert(byId(0L).map(_.frame_idx).sorted.toSeq === (0 until byId(0L).length))
    assert(!byId.contains(2L))
  }

  test("syntheticMedia round-trips documents into typed media rows") {
    val docs = Seq((0L, "hello world", "en", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = syntheticMedia(spark, docs).collect().head
    assert(m.modality === "image")
    assert(new String(m.content, "UTF-8") === "hello world")
  }

  // JVM reference aHash straight from the pixel formula — what the
  // PNG decode path must reproduce bit-for-bit
  private def formulaHash(mid: Long): Long = {
    val px = (0 until 48).map(i => pixelOf(mid, i % 8, i / 8))
    val mu = px.map(_.toLong).sum / 48
    px.zipWithIndex.foldLeft(0L) { case (h, (p, i)) =>
      if (p > mu) h | (1L << i) else h
    }
  }

  test("imageAHash: decode→hash inverts the PNG encoder bit-for-bit") {
    val ids = Seq(0L, 5L, 96L, 97L + 5L, 2L * 97L + 5L, 400L)
    val docs = ids.map(i => (i, "")).toDF("doc_id", "text")
    val hashes = imageAHash(syntheticPngs(spark, docs)).collect()
      .map(h => h.media_id -> h).toMap
    for (id <- ids) {
      assert(hashes(id).ok, s"image $id must decode")
      assert(hashes(id).ahash === formulaHash(id),
        s"decoded aHash of $id must equal the pixel-formula hash")
    }
  }

  test("imageNearDup: exact copies hamming 0, perturbed generation near, pairs = brute force") {
    // gid-5 family across three generations: gen 0 and 2 identical,
    // gen 1 perturbed by one pixel; gid-40 unrelated pattern
    val ids = Seq(5L, 97L + 5L, 2L * 97L + 5L, 40L)
    val docs = ids.map(i => (i, "")).toDF("doc_id", "text")
    val pairs = imageNearDup(syntheticPngs(spark, docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((5L, 2L * 97L + 5L)) === 0L, "same-gid generations are exact aHash copies")
    // the perturbed generation is a NEAR dup of its family
    val near = pairs.get((5L, 97L + 5L))
    assert(near.exists(h => h >= 1L && h <= 3L),
      s"perturbed generation must be 1..3 bits away, got $near")
    // brute-force equivalence on this fixture
    val hs = ids.map(i => i -> formulaHash(i)).toMap
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 3
    } yield (a, b) -> d.toLong).toMap
    assert(pairs === brute)
  }

  test("multimodalPipeline: per-modality funnel counts compose the pinned kernels") {
    // image gid-5 family clusters {5, 97+5, 2*97+5}; audio gid = id%89
    // gives its own family structure over the same ids
    val ids = Seq(5L, 97L + 5L, 2L * 97L + 5L, 40L)
    val docs = ids.map(i => (i, "")).toDF("doc_id", "text")
    val r = multimodalPipeline(syntheticPngs(spark, docs), syntheticPcmWavs(spark, docs))
      .collect().map(x => x.getAs[String]("modality") -> x).toMap
    assert(r.keySet === Set("image", "audio"))
    val img = r("image")
    assert(img.getAs[Long]("n_media") === 4L && img.getAs[Long]("n_decoded") === 4L)
    // the gid-5 triple forms one cluster; 40 stays out
    assert(img.getAs[Long]("n_pairs") === 3L, "C(3,2) pairs within the family")
    assert(img.getAs[Long]("n_clustered") === 3L)
    assert(img.getAs[Long]("n_clusters") === 1L)
    assert(img.getAs[Long]("n_kept") === 2L, "golden of the triple + the loner")
    assert(img.getAs[Long]("golden_id_sum") === 5L, "min-id representative")
    // audio leg: funnel identity holds whatever the gid-89 families do
    val aud = r("audio")
    assert(aud.getAs[Long]("n_kept") ===
      aud.getAs[Long]("n_decoded") - aud.getAs[Long]("n_clustered")
        + aud.getAs[Long]("n_clusters"))
  }

  // JVM reference fingerprint straight from the sample formula —
  // what the RIFF-walk + LE16 decode path must reproduce bit-for-bit
  private def formulaFp(mid: Long): Long = {
    val e = (0 to FpFrames).map { f =>
      (0 until SamplesPerFrame)
        .map(j => pcmSampleOf(mid, f * SamplesPerFrame + j).toLong)
        .map(s => s * s).sum
    }
    (0 until FpFrames).foldLeft(0L) { (fp, f) =>
      if (e(f) > e(f + 1)) fp | (1L << f) else fp
    }
  }

  test("audioFingerprint: WAV decode→fingerprint inverts the PCM encoder bit-for-bit") {
    val ids = Seq(0L, 7L, 88L, 89L + 7L, 2L * 89L + 7L, 450L)
    val docs = ids.map(i => (i, "")).toDF("doc_id", "text")
    val fps = audioFingerprint(syntheticPcmWavs(spark, docs)).collect()
      .map(f => f.media_id -> f).toMap
    for (id <- ids) {
      assert(fps(id).ok, s"wav $id must decode")
      assert(fps(id).fp === formulaFp(id),
        s"decoded fingerprint of $id must equal the sample-formula fingerprint")
    }
  }

  test("audioNearDup: exact copies hamming 0, perturbed generation near, pairs = brute force") {
    // gid-16 family across three generations: gen 0 and 2 identical
    // waveforms, gen 1 perturbs one sample in frame 25 (a gid whose
    // perturbation actually crosses the delta threshold); gid-40 unrelated
    val ids = Seq(16L, 89L + 16L, 2L * 89L + 16L, 40L)
    val docs = ids.map(i => (i, "")).toDF("doc_id", "text")
    val pairs = audioNearDup(syntheticPcmWavs(spark, docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((16L, 2L * 89L + 16L)) === 0L, "same-gid generations are exact waveform copies")
    // only delta bits 24/25 can differ on the perturbed generation
    val near = pairs.get((16L, 89L + 16L))
    assert(near.exists(h => h >= 1L && h <= 2L),
      s"perturbed generation must be 1..2 bits away, got $near")
    val hs = ids.map(i => i -> formulaFp(i)).toMap
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 3
    } yield (a, b) -> d.toLong).toMap
    assert(pairs === brute)
  }

  test("audioFingerprint: junk, truncated, and short payloads contained, excluded from pairing") {
    val junk = Seq(
      MediaRow(900L, "audio", Array.fill(64)(7.toByte), -1, -1, -1, -1), // not RIFF
      MediaRow(901L, "audio", Array[Byte](), -1, -1, -1, -1), // empty
      MediaRow(902L, "audio", pcmWavBytes(5L).take(44 + 50), -1, -1, -1, -1), // truncated data
      MediaRow(903L, "audio", wavBytes(16000, 1, 16, 8), -1, -1, -1, -1) // too few samples
    ).toDS()
    val f = audioFingerprint(junk).collect().map(x => x.media_id -> x.ok).toMap
    assert(f === Map(900L -> false, 901L -> false, 902L -> false, 903L -> false))
    assert(audioNearDup(junk).count() === 0L)
  }

  test("audioFingerprint: fuzzed byte mutations never throw, always yield a row") {
    val rnd = new scala.util.Random(31)
    val base = pcmWavBytes(7L)
    val rows = (0 until 60).map { i =>
      val b = base.clone()
      // mutate 1-8 random bytes anywhere, including header fields
      for (_ <- 0 to rnd.nextInt(8)) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      MediaRow(i.toLong, "audio", b, -1, -1, -1, -1)
    } ++ (0 until 20).map { i =>
      // random truncations, including mid-header
      MediaRow(100L + i, "audio", base.take(rnd.nextInt(base.length + 1)), -1, -1, -1, -1)
    }
    val ds = rows.toDS()
    val out = audioFingerprint(ds).collect()
    assert(out.length === 80, "one containment-or-result row per payload, no drops, no throws")
    assert(out.forall(r => r.ok || r.fp == 0L))
  }

  test("imageAHash: junk and empty payloads contained, excluded from pairing") {
    val junk = Seq(
      MediaRow(900L, "image", Array.fill(64)(7.toByte), 8, 6, -1, -1),
      MediaRow(901L, "image", Array[Byte](), 8, 6, -1, -1)).toDS()
    val h = imageAHash(junk).collect().map(x => x.media_id -> x.ok).toMap
    assert(h === Map(900L -> false, 901L -> false))
    assert(imageNearDup(junk).count() === 0L)
  }

  test("imageResize: decoded 2x2 pooling inverts the pixel generator; junk contained") {
    val docs = Seq((1L, "x"), (98L, "y")).toDF("doc_id", "text") // gen-1 id 98 hits the perturbed pixel
    val thumbs = imageResize(syntheticPngs(spark, docs)).collect()
      .groupBy(_.media_id)
    for (id <- Seq(1L, 98L)) {
      val t = thumbs(id)
      assert(t.length === 4 * 3 && t.forall(_.ok))
      t.foreach { px =>
        val expect = (0 to 1).flatMap(dy => (0 to 1).map(dx =>
          pixelOf(id, 2 * px.tx + dx, 2 * px.ty + dy))).sum / 4
        assert(px.v === expect, s"pooled pixel ($id, ${px.tx}, ${px.ty})")
      }
    }
    // id 98 is generation 1 of family gid=1 (= id 1's family): the
    // +128 perturbation at pixel (3,2) pools into thumb cell (1,1) as
    // a ±32 shift (128/4; the sign depends on the mod-256 wrap — for
    // gid 1 the pixel wraps 208 → 80, so −32 here)
    val cell = (id: Long) => thumbs(id).find(p => p.tx == 1 && p.ty == 1).get.v
    assert(math.abs(cell(98L) - cell(1L)) === 32)
    val junk = Seq(MediaRow(900L, "image", "nope".getBytes("UTF-8"), -1, -1, -1, -1)).toDS()
    val bad = imageResize(junk).collect()
    assert(bad.toSeq === Seq(ThumbPixel(900L, -1, -1, -1, false)))
  }

  test("videoFrames: sample-table demux inverts the generator arithmetic exactly") {
    val docs = Seq(1L, 3L, 9L, 13L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val frames = videoFrames(syntheticVideos(spark, docs)).collect()
      .groupBy(_.media_id).map { case (id, fs) => id -> fs.sortBy(_.sample_idx) }
    for (id <- Seq(1L, 3L, 9L, 13L)) {
      val n = (id % 7).toInt + 4
      val delta = 100 + (id % 5).toInt * 20
      val nk = (n + 2) / 3
      val sizes = (0 until n).map(i => 50L + ((id * 31 + i * 17) % 100))
      val fs = frames(id)
      assert(fs.length === n, s"media $id sample count")
      assert(fs.forall(_.ok), s"media $id all samples in-bounds")
      fs.zipWithIndex.foreach { case (f, i) =>
        assert(f.sample_idx === i + 1)
        assert(f.pts_ticks === i.toLong * delta, s"pts of sample ${i + 1}")
        assert(f.size === sizes(i))
        assert(f.offset === 376L + 4 * n + 4 * nk + sizes.take(i).sum,
          s"offset of sample ${i + 1}")
        assert(f.keyframe === ((i + 1) % 3 == 1), s"stss flag of sample ${i + 1}")
      }
    }
  }

  test("videoFrames: junk and truncated payloads contained, never thrown") {
    val whole = mp4SampleTableBytes(3L)
    val rows = Seq(
      MediaRow(950L, "video", "not an mp4 at all".getBytes("UTF-8"), -1, -1, -1, -1),
      MediaRow(951L, "video", Array[Byte](), -1, -1, -1, -1),
      // mdat tail cut off: tables parse, trailing samples fall out of bounds
      MediaRow(952L, "video", whole.dropRight(60), -1, -1, -1, -1)).toDS()
    val out = videoFrames(rows).collect().groupBy(_.media_id)
    assert(out(950L).toSeq === Seq(VideoFrame(950L, -1, -1L, -1L, -1L, false, false)))
    assert(out(951L).toSeq === Seq(VideoFrame(951L, -1, -1L, -1L, -1L, false, false)))
    val cut = out(952L).sortBy(_.sample_idx)
    assert(cut.length === (3 % 7) + 4) // tables intact → all samples listed
    assert(cut.head.ok, "leading samples still inside the shortened payload")
    assert(!cut.last.ok, "trailing sample extends past the cut — flagged, not thrown")
  }

  test("videoKeyframes: range-read + ImageIO decode matches the pure pixel formula") {
    val docs = Seq(1L, 3L, 9L, 13L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val kf = videoKeyframes(syntheticKeyframeVideos(spark, docs)).collect()
      .groupBy(_.media_id)
    for (id <- Seq(1L, 3L, 9L, 13L)) {
      val n = (id % 7).toInt + 4
      val delta = 100 + (id % 5).toInt * 20
      val expectedIdx = (1 to n by 3).toSeq
      val fs = kf(id).sortBy(_.sample_idx)
      assert(fs.map(_.sample_idx).toSeq === expectedIdx, s"media $id sync set")
      assert(fs.forall(_.ok), s"media $id all keyframes decode")
      fs.foreach { f =>
        assert(f.width === 8 && f.height === 6, "decoded dimensions")
        assert(f.pts_ticks === (f.sample_idx - 1).toLong * delta)
        val kid = keyframeImageId(id, f.sample_idx)
        val want = (for (y <- 0 until 6; x <- 0 until 8)
          yield pixelOf(kid, x, y).toLong).sum
        assert(f.px_sum === want, s"pixel sum of ($id, ${f.sample_idx})")
      }
    }
  }

  test("videoKeyframes: junk, truncated and non-PNG keyframe extents contained") {
    val whole = mp4KeyframeVideoBytes(3L)
    // zero out the first keyframe's PNG magic so ImageIO can't decode
    // it: sample 1 starts at the chunk offset
    val n = (3L % 7).toInt + 4; val nk = (n + 2) / 3
    val co = 376 + 4 * n + 4 * nk
    val broken = whole.clone(); broken(co) = 0; broken(co + 1) = 0
    val rows = Seq(
      MediaRow(950L, "video", "not an mp4 at all".getBytes("UTF-8"), -1, -1, -1, -1),
      MediaRow(951L, "video", whole.dropRight(whole.length - co - 10), -1, -1, -1, -1),
      MediaRow(952L, "video", broken, -1, -1, -1, -1)).toDS()
    val out = videoKeyframes(rows).collect().groupBy(_.media_id)
    assert(out(950L).toSeq ===
      Seq(KeyframePixels(950L, -1, -1L, -1, -1, -1L, ok = false)))
    // truncated mdat: tables intact, every keyframe extent out of
    // bounds or cut — all rows flagged, none thrown
    assert(out(951L).forall(!_.ok))
    val br = out(952L).sortBy(_.sample_idx)
    assert(!br.head.ok, "corrupted PNG magic -> contained ok=false")
    assert(br.tail.forall(_.ok), "later keyframes unaffected")
  }

  test("videoFrames: fuzzed header mutations never throw") {
    val base = mp4SampleTableBytes(5L)
    val rows = (0 until 40).map { i =>
      val b = base.clone()
      val pos = (i * 37) % (b.length - 1)
      b(pos) = (b(pos) ^ 0x5a).toByte
      MediaRow(1000L + i, "video", b, -1, -1, -1, -1)
    }.toDS()
    val out = videoFrames(rows).collect()
    assert(out.nonEmpty) // every payload yields ≥1 row, corrupt ones contained
    assert(out.groupBy(_.media_id).size === 40)
  }
  test("audioSpectrogram: differential recompute, tone dominance, junk contained") {
    import spark.implicits._
    // (a) real WAV for media 3: engine energies must equal a direct
    // recompute from the shared sample formula + trig tables
    val wav = MediaRow(3L, "audio", pcmWavBytes(3L), -1, -1, 16000, -1)
    // (b) pure tone at bin 4 written into a real WAV container
    val toneBytes = pcmWavBytes(0L)
    val bb = java.nio.ByteBuffer.wrap(toneBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(44)
    (0 until FpSamples).foreach { i =>
      bb.putShort(Math.round(1000.0 * math.cos(2 * math.Pi * 4 * i / 64)).toShort)
    }
    val tone = MediaRow(9L, "audio", toneBytes, -1, -1, 16000, -1)
    val junk = MediaRow(5L, "audio", Array.fill(32)(7.toByte), -1, -1, 16000, -1)
    val out = audioSpectrogram(Seq(wav, tone, junk).toDS()).collect()
    val m3 = out.filter(_.media_id == 3L)
    assert(m3.length === 12)
    assert(m3.count(_.dominant) === 3, "exactly one dominant bin per frame")
    // differential: recompute frame 1 / bin index 2 from the formula
    val bi = 2
    val (c, s2) = (0 until 64).foldLeft((0L, 0L)) { case ((ca, sa), n) =>
      val v = pcmSampleOf(3L, 64 + n).toLong
      (ca + v * dftCosMicro(bi)(n), sa + v * dftSinMicro(bi)(n))
    }
    val cm = Math.floorDiv(c, 1000L); val sm = Math.floorDiv(s2, 1000L)
    val expect = cm * cm + sm * sm
    assert(m3.find(r => r.frame == 1 && r.bin == DftBins(bi)).get.energy === expect)
    // tone: bin 4 dominates every frame
    val m9 = out.filter(r => r.media_id == 9L && r.dominant)
    assert(m9.length === 3 && m9.forall(_.bin === 4))
    // junk: contained, never a throw
    val m5 = out.filter(_.media_id == 5L)
    assert(m5.length === 1 && m5.head.frame === -1)
  }
}
