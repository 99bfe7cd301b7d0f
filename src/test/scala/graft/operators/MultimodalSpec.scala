package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Multimodal tests: REAL PGM/WAV codecs (round-trip, byte-level header
  * checks, malformed-input rejection) plus the Spark plumbing — schema,
  * encoders, partition-batched execution, determinism. */
class MultimodalSpec extends SparkSpec {

  test("PGM codec round-trips and parses headers from bytes alone") {
    val pix = Array.tabulate[Byte](6)(i => (40 * i).toByte)
    val enc = MediaCodec.encodePgm(3, 2, pix)
    // header is exactly what the oracle's closed-form length assumes
    new String(enc.take(9), "US-ASCII") shouldBe "P5\n3 2\n25"
    enc.length shouldBe 9 + 1 + 1 + 6 // "P5\n" + "3 2\n" + "255\n" + raster
    val (w, h, out) = MediaCodec.decodePgm(enc)
    (w, h) shouldBe ((3, 2))
    out.toSeq shouldBe pix.toSeq
    // comments and mixed whitespace in the header are legal PGM
    val commented = ("P5\n# a comment\n 3\t2 # dims\n255\n"
      .getBytes("US-ASCII") ++ pix)
    val (w2, h2, out2) = MediaCodec.decodePgm(commented)
    (w2, h2) shouldBe ((3, 2))
    out2.toSeq shouldBe pix.toSeq
    // malformed inputs are rejected, not guessed at
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodePgm("P6\n3 2\n255\n".getBytes ++ pix)
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodePgm(MediaCodec.encodePgm(3, 2, pix).dropRight(1))
    // maxval followed by a non-whitespace byte: rejecting it (rather
    // than consuming it as the separator) prevents a one-byte raster
    // shift that would silently emit wrong pixel stats
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodePgm("P5\n3 2\n255".getBytes("US-ASCII") ++ pix)
  }

  test("PNG codec round-trips losslessly through the ImageIO seam") {
    val pix = Array.tabulate[Byte](31 * 17)(i => (7 * i % 256).toByte)
    val enc = MediaCodec.encodePng(31, 17, pix)
    // real PNG container: 8-byte signature, sniffed as such
    MediaCodec.sniffImageFormat(enc) shouldBe "png"
    val (w, h, out) = MediaCodec.decodeImage(enc)
    (w, h) shouldBe ((31, 17))
    out.toSeq shouldBe pix.toSeq
    // PGM payloads route through the same seam unchanged
    val pgm = MediaCodec.encodePgm(31, 17, pix)
    MediaCodec.sniffImageFormat(pgm) shouldBe "pgm"
    MediaCodec.decodeImage(pgm)._3.toSeq shouldBe pix.toSeq
    // strictness: unknown container and truncated PNG are rejected
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodeImage(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9))
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodeImage(enc.take(enc.length / 2))
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodeImage(Array.empty[Byte])
  }

  test("PNG decode collapses non-gray content to deterministic luma") {
    // hand-build an RGB image; the decoder must apply the fixed integer
    // ITU-R 601 weights, not a platform color-management path
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // pure red
    img.setRGB(1, 0, 0x0000ff) // pure blue
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (w, h, out) = MediaCodec.decodeImage(bos.toByteArray)
    (w, h) shouldBe ((2, 1))
    // luma = (299*r + 587*g + 114*b + 500) / 1000
    (out(0) & 0xff) shouldBe (299 * 255 + 500) / 1000
    (out(1) & 0xff) shouldBe (114 * 255 + 500) / 1000
  }

  test("JPEG codec: exact dims from bytes, deterministic decode, " +
       "bounded reconstruction error") {
    val pix = Array.tabulate[Byte](48 * 32)(i => (3 * i % 256).toByte)
    val enc = MediaCodec.encodeJpeg(48, 32, pix, quality = 0.9f)
    MediaCodec.sniffImageFormat(enc) shouldBe "jpeg"
    val (w, h, out) = MediaCodec.decodeImage(enc)
    (w, h) shouldBe ((48, 32))
    // decode is deterministic (the fixture-oracle precondition)
    MediaCodec.decodeImage(enc)._3.toSeq shouldBe out.toSeq
    // lossy but recognizable: mean abs error bounded well below random
    val mae = pix.indices.map(i =>
      math.abs((pix(i) & 0xff) - (out(i) & 0xff))).sum.toDouble / pix.length
    assert(mae < 32.0, s"JPEG mean abs error $mae")
    // truncated scan is rejected, not guessed at
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodeImage(enc.take(24))
  }

  test("WAV codec round-trips; chunk walk skips unknown chunks") {
    val smp = Array.tabulate[Short](100)(i => (i * 37 - 1850).toShort)
    val enc = MediaCodec.encodeWavPcm16(16000, smp)
    enc.length shouldBe 44 + 200
    new String(enc.take(4), "US-ASCII") shouldBe "RIFF"
    val (rate, out) = MediaCodec.decodeWavPcm16(enc)
    rate shouldBe 16000
    out.toSeq shouldBe smp.toSeq
    // a LIST chunk between fmt and data must be skipped (real WAVs
    // carry metadata chunks); rebuild: RIFF hdr + fmt + LIST + data
    val fmtAndRest = enc.drop(12)
    val fmt = fmtAndRest.take(24)
    val data = fmtAndRest.drop(24)
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val body = fmt ++ list ++ data
    val riff = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(4 + body.length)
      .put("WAVE".getBytes("US-ASCII")).array()
    val (rate2, out2) = MediaCodec.decodeWavPcm16(riff ++ body)
    rate2 shouldBe 16000
    out2.toSeq shouldBe smp.toSeq
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodeWavPcm16(enc.take(30))
    // zero samples would make every content stat divide by zero — the
    // gate rejects it like any other undecodable payload
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodeWavPcm16(
        MediaCodec.encodeWavPcm16(16000, Array.emptyShortArray))
  }

  test("fixture corpus satisfies the media-feature oracle " +
      "preconditions (pure ASCII, under 64 KB per doc)") {
    // the featureCtes oracle profiles ord(substring(text, i, 1)) per
    // CHARACTER while Multimodal.extractFeatures profiles raw UTF-8
    // BYTES — they agree only while every document is pure ASCII; and
    // the Float feature components are exact only while
    // 255 * byte_len < 2^24 (docs under ~65 KB). A regenerated corpus
    // that breaks either assumption should fail HERE, with the cause
    // named, not as an opaque oracle hash mismatch.
    import org.apache.spark.sql.functions.{col, octet_length}
    import org.apache.spark.sql.{functions => F}
    Tables.documents(spark, sfDir)
      .filter(F.length(col("text")) =!= octet_length(col("text")) ||
        octet_length(col("text")) >= 65536)
      .count() shouldBe 0L
  }

  private implicit lazy val s: org.apache.spark.sql.SparkSession = spark
  private lazy val media =
    Multimodal.asMedia(
      Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir))).cache()

  test("media table: one row per document, three kinds, non-empty payloads") {
    val docs = Tables.documents(spark, sfDir).count()
    media.count() shouldBe docs
    media.toDF().select("kind").distinct().count() shouldBe 3
    media.filter(m => m.bytes.isEmpty).count() shouldBe 0
  }

  test("decode really parses the payload bytes and covers every row") {
    val a = Multimodal.decode(media).collect().sortBy(_.media_id)
    val b = Multimodal.decode(media).collect().sortBy(_.media_id)
    a.map(_.sum_units).toSeq shouldBe b.map(_.sum_units).toSeq
    a.length shouldBe media.count()
    a.foreach { d =>
      assert(d.n_units > 0)
      d.kind match {
        case "image" =>
          // n_units comes from the PARSED P5 header, which must agree
          // with the generator's thumbnail dims (not the metadata dims)
          val exp = (d.media_id % 64 + 16) * (d.media_id % 48 + 16)
          d.n_units shouldBe exp
          // ground-truth pixel sum from the generation arithmetic
          val s = (d.media_id % 256).toInt
          var sum = 0L
          var i = 0
          while (i < exp) { sum += (s + 7 * i) % 256; i += 1 }
          d.sum_units shouldBe sum
          d.mean_mu shouldBe sum * 1000000L / exp
        case "audio" =>
          val n = d.media_id % 2000 + 500
          d.n_units shouldBe n
          val t = (d.media_id % 256).toInt * 17
          var sum = 0L
          var i = 0
          while (i < n) { sum += (t + 13 * i) % 4096; i += 1 }
          d.sum_units shouldBe sum
        case _ =>
          // video: no codec — byte length + sentinel
          d.sum_units shouldBe -1L
          d.mean_mu shouldBe -1L
      }
    }
  }

  test("media near-dup: identical payloads pair at sim 1.0, others below") {
    import spark.implicits._
    // two byte-identical payloads (ids 1, 2), one different (id 3):
    // the LSH-bucketed cosine pairs must contain exactly (1, 2) at 1.0
    // at a 0.95 threshold — identical features collide in every table
    // (guaranteed recall for exact dups), and the exact cosine verify
    // admits no false positives
    val rows = Seq(
      Multimodal.Media(1L, "image", "same content bytes".getBytes, 4, 4, 0, 0L),
      Multimodal.Media(2L, "image", "same content bytes".getBytes, 4, 4, 0, 0L),
      Multimodal.Media(3L, "image", "completely different".getBytes, 4, 4, 0, 0L)
    ).toDS()
    val feats = Multimodal.extractFeatures(rows, dim = 16)
      .toDF().withColumnRenamed("feature", "embedding")
    val pairs = graft.operators.Ann.cosinePairsLsh(
        feats, "media_id", "embedding", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pairs.toSeq shouldBe Seq((1L, 2L, 1.0))
    // and the LSH relation is a subset of the exact block-pair relation
    val exact = Dedup.embeddingCosinePairs(
        feats, "media_id", "embedding", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pairs.toSet.subsetOf(exact.toSet) shouldBe true
  }

  test("features: fixed dim, deterministic, distinct content differs") {
    val f = Multimodal.extractFeatures(media, dim = 16).collect()
    f.foreach(_.feature.length shouldBe 16)
    val byId = f.map(x => x.media_id -> x.feature.toSeq).toMap
    val f2 = Multimodal.extractFeatures(media, dim = 16).collect()
    f2.foreach(x => x.feature.toSeq shouldBe byId(x.media_id))
    // not all identical (hash actually varies with content)
    f.map(_.feature.toSeq).distinct.length should be > 1
  }

  test("contentFingerprint: equal across lossless containers, " +
       "sensitive to dims and values") {
    import spark.implicits._
    val pix = Array.tabulate[Byte](12)(i => (11 * i).toByte)
    def m(id: Long, bytes: Array[Byte]) =
      Multimodal.Media(id, "image", bytes, 0, 0, 0, 0L)
    val rows = Seq(
      m(1L, MediaCodec.encodePgm(4, 3, pix)),
      m(2L, MediaCodec.encodePng(4, 3, pix)), // same raster, other container
      m(3L, MediaCodec.encodePgm(3, 4, pix)), // same bytes, other shape
      m(4L, MediaCodec.encodePgm(4, 3,
        pix.updated(5, 99.toByte)))) // one pixel differs
    val fp = Multimodal.contentFingerprint(rows.toDS()).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    fp(1L) shouldBe fp(2L) // container-invariant
    fp(1L) should not be fp(3L) // shape is content
    fp(1L) should not be fp(4L) // values are content
  }

  test("resizeContent: hand-checked nearest-neighbor thumb, container " +
       "preserved, small/non-image rows untouched") {
    import spark.implicits._
    // 4x2 source, maxSide 2 -> ow=2, oh=1; nearest-neighbor picks
    // source pixels (0,0) and (2,0)
    val pix = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80)
    val pgm = Multimodal.Media(1L, "image", MediaCodec.encodePgm(4, 2, pix),
      4, 2, 0, 0L)
    val png = Multimodal.Media(2L, "image", MediaCodec.encodePng(4, 2, pix),
      4, 2, 0, 0L)
    val small = Multimodal.Media(3L, "image",
      MediaCodec.encodePgm(2, 1, Array[Byte](9, 9)), 2, 1, 0, 0L)
    val vid = Multimodal.Media(4L, "video", Array[Byte](1, 2, 3),
      0, 0, 0, 5000L)
    val out = Multimodal.resizeContent(
      Seq(pgm, png, small, vid).toDS(), maxSide = 2).collect()
      .map(m => m.media_id -> m).toMap
    val (w1, h1, p1) = MediaCodec.decodeImage(out(1L).bytes)
    (w1, h1) shouldBe ((2, 1))
    p1.toSeq shouldBe Seq[Byte](10, 30)
    MediaCodec.sniffImageFormat(out(1L).bytes) shouldBe "pgm"
    // PNG in -> PNG out, same resampled raster
    MediaCodec.sniffImageFormat(out(2L).bytes) shouldBe "png"
    MediaCodec.decodeImage(out(2L).bytes)._3.toSeq shouldBe Seq[Byte](10, 30)
    // already-small image and non-image rows pass through byte-identical;
    // the small image's metadata is re-stamped with its decoded dims
    out(3L).bytes.toSeq shouldBe small.bytes.toSeq
    (out(3L).width, out(3L).height) shouldBe ((2, 1))
    out(4L).bytes.toSeq shouldBe vid.bytes.toSeq
  }

  test("resizeMeta caps the long side, preserves small items") {
    val r = Multimodal.resizeMeta(media, maxSide = 256).collect()
    val orig = media.collect().map(m => m.media_id -> m).toMap
    r.foreach { m =>
      assert(math.max(m.width, m.height) <= 256)
      val o = orig(m.media_id)
      if (math.max(o.width, o.height) <= 256) {
        m.width shouldBe o.width; m.height shouldBe o.height
      }
    }
  }

  test("sampleFrames: only videos, <= n frames, in-range timestamps") {
    val frames = Multimodal.sampleFrames(media, n = 8).collect()
    val vids = media.filter(_.kind == "video").collect()
      .map(m => m.media_id -> m).toMap
    frames.groupBy(_.media_id).foreach { case (id, fs) =>
      assert(vids.contains(id), s"frames for non-video $id")
      assert(fs.length <= 8 && fs.nonEmpty)
      fs.foreach { fr =>
        assert(fr.frame_ms >= 0 && fr.frame_ms < vids(id).duration_ms)
        assert(fr.frame_bytes.nonEmpty)
      }
    }
    frames.map(_.media_id).distinct.length shouldBe vids.size
  }

  test("PGM stream codec: multi-frame round-trip, strict stream walk") {
    val f0 = (2, 2, Array[Byte](1, 2, 3, 4))
    val f1 = (3, 1, Array[Byte](9, 8, 7))
    val f2 = (1, 4, Array[Byte](5, 5, 5, 5))
    val enc = MediaCodec.encodePgmStream(Seq(f0, f1, f2))
    val dec = MediaCodec.decodePgmStream(enc)
    dec.length shouldBe 3
    dec.zip(Seq(f0, f1, f2)).foreach { case ((w, h, pix), (ew, eh, ep)) =>
      (w, h) shouldBe ((ew, eh))
      pix.toSeq shouldBe ep.toSeq
    }
    // a single image is a 1-frame stream (netpbm files ARE streams)
    MediaCodec.decodePgmStream(MediaCodec.encodePgm(2, 2, f0._3))
      .length shouldBe 1
    // an empty payload is an undecodable stream, not a 0-frame one
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodePgmStream(Array.emptyByteArray)
    // the SINGLE-image decoder holds the same strict contract: a
    // multi-image payload (or trailing garbage) must not silently
    // decode as frame 0
    an[MediaFormatException] should be thrownBy MediaCodec.decodePgm(enc)
    // trailing garbage and mid-stream truncation fail loudly — the walk
    // must never resynchronize past a bad boundary
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodePgmStream(enc :+ 0x7f.toByte)
    an[MediaFormatException] should be thrownBy
      MediaCodec.decodePgmStream(enc.dropRight(1))
  }

  test("sampleFramesContent: parsed frame boundaries, even spacing, " +
      "pixel stats from the bytes") {
    val vids = Multimodal.asMedia(Multimodal.mediaFromDocuments(
      Tables.documents(spark, sfDir), videoFormat = "pgmstream"))
    val stats = Multimodal.sampleFramesContent(vids, n = 4).collect()
      .groupBy(_.media_id)
    stats.foreach { case (id, fs) =>
      val f = (id % 12 + 2).toInt
      val k = math.min(4, f)
      fs.length shouldBe k
      fs.map(_.frame_idx).sorted.toSeq shouldBe
        (0 until k).map(j => (j * f / k).toLong)
      fs.foreach { st =>
        st.width shouldBe (id % 32 + 8).toInt
        st.height shouldBe (id % 24 + 8).toInt
        st.n_pix shouldBe st.width.toLong * st.height
        // closed-form pixel sum for the sampled frame
        val seed = (id % 256).toInt
        val expected = (0 until st.n_pix.toInt)
          .map(i => (seed + 31 * st.frame_idx.toInt + 7 * i) % 256)
          .map(_.toLong).sum
        st.sum_pix shouldBe expected
      }
    }
    // a video corpus that is NOT a P5 stream fails loudly
    an[org.apache.spark.SparkException] should be thrownBy
      Multimodal.sampleFramesContent(media, n = 4).collect()
  }

  test("audioFeatures: hand-checked windows, energy and crossings " +
      "from the decoded samples") {
    import spark.implicits._
    // 5 samples, window 3: win0 = (100, 50, -25) -> 1 crossing at the
    // 50 -> -25 edge; win1 = (-50, 25) -> 1 crossing; the boundary pair
    // (-25, -50) belongs to neither window (and is not a flip anyway)
    val wav = MediaCodec.encodeWavPcm16(16000,
      Array[Short](100, 50, -25, -50, 25))
    val one = Seq(Multimodal.Media(7L, "audio", wav, 0, 0, 16000, 0L)).toDS()
    val wins = Multimodal.audioFeatures(one, win = 3).collect()
      .sortBy(_.win_idx)
    wins.map(w => (w.win_idx, w.n_samp, w.energy, w.crossings)).toSeq shouldBe
      Seq((0L, 3L, 100L * 100 + 50 * 50 + 25 * 25, 1L),
        (1L, 2L, 50L * 50 + 25 * 25, 1L))
    // corpus-level: every audio row covered, windows tile the sample
    // count exactly, all values non-negative
    val all = Multimodal.audioFeatures(media, win = 256).collect()
      .groupBy(_.media_id)
    all.size shouldBe media.filter(_.kind == "audio").count()
    all.foreach { case (id, ws) =>
      val n = (id % 2000 + 500)
      ws.map(_.n_samp).sum shouldBe n
      ws.map(_.win_idx).sorted.toSeq shouldBe (0L until ws.length.toLong)
      ws.foreach { w => assert(w.energy >= 0 && w.crossings >= 0) }
    }
  }

  test("frameDiffs: hand-checked adjacent diffs, threshold verdict, " +
      "loud failure on a raster-size change") {
    import spark.implicits._
    // 3 frames of 2x2: diffs f0->f1 = |5-1|+|5-2|+|5-3|+|5-4| = 10,
    // f1->f2 = |0-5|*3 + |255-5| = 265
    val stream = MediaCodec.encodePgmStream(Seq(
      (2, 2, Array[Byte](1, 2, 3, 4)),
      (2, 2, Array[Byte](5, 5, 5, 5)),
      (2, 2, Array[Byte](0, 0, 0, 0xff.toByte))))
    val one = Seq(Multimodal.Media(3L, "video", stream, 0, 0, 0, 0L)).toDS()
    // threshold between the two pair means (2.5 and 66.25 per pixel)
    val ds = Multimodal.frameDiffs(one, cutMu = 10000000L).collect()
      .sortBy(_.frame_idx)
    ds.map(d => (d.frame_idx, d.n_pix, d.abs_diff, d.diff_mu, d.is_cut))
      .toSeq shouldBe Seq((1L, 4L, 10L, 2500000L, 0),
        (2L, 4L, 265L, 66250000L, 1))
    // adjacent frames with different dims fail loudly, never diff
    val bad = MediaCodec.encodePgmStream(Seq(
      (2, 2, Array[Byte](1, 2, 3, 4)), (4, 1, Array[Byte](1, 2, 3, 4))))
    val badDs = Seq(Multimodal.Media(4L, "video", bad, 0, 0, 0, 0L)).toDS()
    an[org.apache.spark.SparkException] should be thrownBy
      Multimodal.frameDiffs(badDs, cutMu = 0L).collect()
  }

  test("frameDiffs corpus coverage: f-1 diffs per video, closed-form sums") {
    val vids = Multimodal.asMedia(Multimodal.mediaFromDocuments(
      Tables.documents(spark, sfDir), videoFormat = "pgmstream"))
    val byId = Multimodal.frameDiffs(vids, cutMu = 54500000L).collect()
      .groupBy(_.media_id)
    byId.foreach { case (id, ds) =>
      val f = (id % 12 + 2).toInt
      ds.length shouldBe f - 1
      ds.map(_.frame_idx).sorted.toSeq shouldBe (1L until f.toLong)
      val seed = (id % 256).toInt
      ds.foreach { d =>
        // generator algebra: per-pixel diff is 31, or 225 on wraparound
        val expected = (0 until d.n_pix.toInt).map { i =>
          val prev = (seed + 31 * (d.frame_idx.toInt - 1) + 7 * i) % 256
          if (prev >= 225) 225L else 31L
        }.sum
        d.abs_diff shouldBe expected
      }
    }
  }

  test("contentProfile: one pass agrees with decode AND contentFingerprint") {
    val prof = Multimodal.contentProfile(media).collect()
      .map(p => p.media_id -> p).toMap
    val dec = Multimodal.decode(media).collect()
    val fps = Multimodal.contentFingerprint(media).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    dec.foreach { d =>
      val p = prof(d.media_id)
      (p.kind, p.n_units, p.sum_units, p.mean_mu) shouldBe
        ((d.kind, d.n_units, d.sum_units, d.mean_mu))
    }
    prof.values.foreach { p =>
      p.content_fp shouldBe fps(p.media_id)
    }
  }

  test("RGB PNG: encode→decodeImageRgb round-trips channels exactly; " +
      "decodeImage collapses the same payload to ITU-R 601 luma") {
    val (w, h) = (37, 23)
    val rgb = Array.tabulate(w * h) { i =>
      (((i * 7 + 5) % 256) << 16) | (((i * 11 + 3) % 256) << 8) |
        ((i * 5 + 1) % 256)
    }
    val enc = MediaCodec.encodePngRgb(w, h, rgb)
    MediaCodec.sniffImageFormat(enc) shouldBe "png"
    val (dw, dh, out) = MediaCodec.decodeImageRgb(enc)
    (dw, dh) shouldBe ((w, h))
    out.toSeq shouldBe rgb.toSeq // lossless per channel
    // the single-channel path over the SAME bytes = integer 601 luma
    val (_, _, gray) = MediaCodec.decodeImage(enc)
    val expected = rgb.map { p =>
      ((299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff)
        + 114 * (p & 0xff) + 500) / 1000).toByte
    }
    gray.toSeq shouldBe expected.toSeq
    // and a PGM payload through the color path replicates gray into
    // all three channels: gray g IS rgb(g,g,g)
    val pix = Array.tabulate(12)(i => (i * 21).toByte)
    val (_, _, fromPgm) =
      MediaCodec.decodeImageRgb(MediaCodec.encodePgm(4, 3, pix))
    fromPgm.toSeq shouldBe pix.map { b =>
      val g = b & 0xff; (g << 16) | (g << 8) | g
    }.toSeq
  }

  test("color JPEG: per-channel decode approximates the source raster " +
      "and the gray path is exactly its 601 luma") {
    val (w, h) = (48, 32)
    val rgb = Array.tabulate(w * h) { i =>
      (((i * 7 + 5) % 256) << 16) | (((i * 11 + 3) % 256) << 8) |
        ((i * 5 + 1) % 256)
    }
    val enc = MediaCodec.encodeJpegRgb(w, h, rgb, quality = 0.9f)
    MediaCodec.sniffImageFormat(enc) shouldBe "jpeg"
    val (dw, dh, out) = MediaCodec.decodeImageRgb(enc)
    (dw, dh) shouldBe ((w, h))
    // lossy but recognizable per channel
    def mae(shift: Int) = rgb.indices.map(i =>
      math.abs(((rgb(i) >> shift) & 0xff) - ((out(i) >> shift) & 0xff)))
      .sum.toDouble / rgb.length
    assert(mae(16) < 48 && mae(8) < 48 && mae(0) < 48,
      s"channel MAE ${mae(16)}/${mae(8)}/${mae(0)}")
    // cross-path invariant: gray decode == integer 601 luma of the
    // color decode, pixel for pixel, on the SAME bytes
    val (_, _, gray) = MediaCodec.decodeImage(enc)
    gray.toSeq shouldBe out.map { p =>
      ((299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff)
        + 114 * (p & 0xff) + 500) / 1000).toByte
    }.toSeq
  }

  test("colorStats: per-channel sums over a non-gray corpus match the " +
      "generation ramps end-to-end; non-image rows are excluded") {
    val docs = Tables.documents(spark, sfDir).limit(60)
    val m = Multimodal.asMedia(
      Multimodal.mediaFromDocuments(docs, imageFormat = "png_rgb"))
    val stats = Multimodal.colorStats(m).collect()
    val imageIds = m.filter(_.kind == "image").collect().map(_.media_id)
    stats.map(_.media_id).sorted shouldBe imageIds.sorted
    stats.foreach { st =>
      val s = (st.media_id % 256).toInt
      val n = ((st.media_id % 64 + 16) * (st.media_id % 48 + 16)).toInt
      st.n_pix shouldBe n.toLong
      val (er, eg, eb) = (0 until n).foldLeft((0L, 0L, 0L)) {
        case ((r, g, b), i) =>
          (r + (s + 7 * i) % 256, g + (s + 11 * i + 3) % 256,
            b + (s + 5 * i + 1) % 256)
      }
      (st.sum_r, st.sum_g, st.sum_b) shouldBe ((er, eg, eb))
      st.mean_g_mu shouldBe eg * 1000000L / n
    }
    // the fixture is genuinely non-gray: channel sums differ on most
    // medias (NOT all — when n_pix is a multiple of 256, each odd-stride
    // ramp sums the full residue cycle and the three sums coincide)
    assert(stats.count(st =>
      st.sum_r != st.sum_g || st.sum_g != st.sum_b) > stats.length / 2)
  }

  test("contentProfile: a real WAV with mean sample below -2048 gets its " +
      "true (negative-sum) mean, not the no-codec sentinel") {
    // Σ(s+2048) < 0 here — under the old `sum < 0` convention this row
    // read as "no codec ran" and its mean was silently zapped to -1
    import spark.implicits._
    val smp = Array.fill[Short](80)(-3000)
    val loud = Multimodal.Media(1L, "audio",
      MediaCodec.encodeWavPcm16(16000, smp), 0, 0, 16000, 5L)
    val ds = spark.createDataset(Seq(loud))
    val p = Multimodal.contentProfile(ds).collect().head
    val d = Multimodal.decode(ds).collect().head
    p.sum_units shouldBe (-3000 + 2048).toLong * 80
    assert(p.sum_units < 0)
    p.mean_mu shouldBe d.mean_mu
    p.mean_mu should not be -1L
    // and the no-codec kind still reports the sentinel
    val video = Multimodal.Media(2L, "binary-blob", Array[Byte](1, 2, 3),
      0, 0, 0, 0L)
    val q = Multimodal.contentProfile(spark.createDataset(Seq(video)))
      .collect().head
    (q.sum_units, q.mean_mu) shouldBe ((-1L, -1L))
  }

  test("pipeline_media_prep plan: the binary payload never crosses a " +
      "shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    val df = graft.queries.MultimodalQueries
      .defs("pipeline_media_prep")(spark, sfDir)
    // collect(), not count(): count() builds its own QueryExecution,
    // leaving this one un-executed
    assert(df.collect().nonEmpty)
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case q: QueryStageExec => exchanges(q.plan)
      case e: ShuffleExchangeExec => e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    val ex = exchanges(finalPlan)
    // the dedup groupBy and the manifest groupBy must shuffle...
    assert(ex.nonEmpty, s"expected shuffles in:\n$finalPlan")
    // ...but only profile columns — a payload-carrying exchange would
    // move the corpus itself through the shuffle at 100 TB
    ex.foreach { e =>
      val binary = e.output.filter(_.dataType == BinaryType)
      assert(binary.isEmpty,
        s"binary column(s) ${binary.map(_.name)} cross a shuffle:\n$e")
    }
  }

  test("features compose with ANN: k neighbors per query id") {
    val feats = Multimodal.extractFeatures(media).toDF()
      .withColumnRenamed("feature", "embedding")
    val res = Ann.bruteForceTopK(feats,
      feats.filter(col("media_id") % 100 === 0), "media_id", "embedding", 3)
    res.groupBy("query_id").count().collect().foreach(_.getLong(1) shouldBe 3L)
  }
}
