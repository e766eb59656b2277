package graft.multimodal

import graft.SparkSuite

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq((1L, "hello world"), (2L, "abc"), (3L, "x" * 1000))

  test("attachBinary produces the media schema convention") {
    val media = Multimodal.attachBinary(docs.toDF("doc_id", "text"), "doc_id", "text", "txt")
    assert(media.schema.fieldNames.toSeq === Seq("id", "media"))
    assert(media.schema("media").dataType.catalogString === Multimodal.mediaSchema.catalogString)
    val metas = media.selectExpr("media.meta.n_bytes").as[Long].collect().toSet
    assert(metas === Set(11L, 3L, 1000L))
  }

  test("synthetic codec is deterministic, batch-shaped, and metadata-consistent") {
    val media = Multimodal.attachBinary(docs.toDF("doc_id", "text"), "doc_id", "text", "txt")
    val out = Multimodal.decodeMedia(media, batchSize = 2, numPartitions = 2)
      .collect().sortBy(_.id)
    assert(out.map(_.id).toSeq === Seq(1L, 2L, 3L))
    assert(out.map(_.n_bytes).toSeq === Seq(11L, 3L, 1000L))
    assert(out.forall(_.features.length == 8))
    val again = Multimodal.decodeMedia(media, batchSize = 64).collect().sortBy(_.id)
    assert(out.map(_.width).toSeq === again.map(_.width).toSeq) // batch size invariant
    assert(out.map(m => m.features.toSeq).toSeq === again.map(m => m.features.toSeq).toSeq)
  }

  test("real ImageIO codec round-trips deterministic PNGs exactly") {
    // encode real PNG bytes on the driver, decode through the
    // distributed batched path, and check every decoded quantity
    // against the arithmetic definition — dimensions AND pixels
    val ids = Seq(0L, 1L, 7L, 63L, 64L, 450L)
    val media = ids.map { id =>
      val bytes = Multimodal.encodePng(id)
      (id, bytes, "png", bytes.length.toLong)
    }.toDF("id", "content", "format", "n_bytes")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("content"),
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("format"),
            org.apache.spark.sql.functions.col("n_bytes")).as("meta")).as("media"))
    val out = Multimodal.decodeMedia(media, batchSize = 2, numPartitions = 2)
      .collect().sortBy(_.id)
    assert(out.map(_.id).toSeq === ids.sorted)
    out.foreach { m =>
      val w = Multimodal.pngWidth(m.id)
      val h = Multimodal.pngHeight(m.id)
      assert(m.width === w, s"id=${m.id} width")
      assert(m.height === h, s"id=${m.id} height")
      val expectSum = (for { y <- 0 until h; x <- 0 until w }
        yield (7L * x + 13L * y + m.id) % 256).sum
      assert(m.pix_sum === expectSum, s"id=${m.id} pixel sum")
      assert(m.features.sum.toLong === w.toLong * h, s"id=${m.id} histogram mass")
    }
  }

  test("color PNG decodes to WEIGHTED luminance, not the blue channel") {
    // a 2×1 image: pure red and pure blue. Blue-channel reading would
    // sum 0 + 255; BT.601 luminance sums 76 + 29.
    import java.awt.image.BufferedImage
    val img = new BufferedImage(2, 1, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // red   → (299*255)/1000 = 76
    img.setRGB(1, 0, 0x0000ff) // blue  → (114*255)/1000 = 29
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val bytes = out.toByteArray
    val media = Seq((9L, bytes, "png", bytes.length.toLong))
      .toDF("id", "content", "format", "n_bytes")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("content"),
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("format"),
            org.apache.spark.sql.functions.col("n_bytes")).as("meta")).as("media"))
    val decoded = Multimodal.decodeMedia(media, batchSize = 2).collect()
    assert(decoded.length === 1)
    assert(decoded.head.pix_sum === 76L + 29L,
      s"expected BT.601 luminance sum 105, got ${decoded.head.pix_sum}")
    // and the unit definition: gray stays exact (the q85 contract)
    assert(Multimodal.luminance(0x7f7f7f) === 0x7f)
    assert(Multimodal.luminance(0xffffff) === 255)
    assert(Multimodal.luminance(0x000000) === 0)
  }

  test("undecodable image payload fails loudly, not silently") {
    val bad = Seq((9L, Array[Byte](1, 2, 3), "png", 3L))
      .toDF("id", "content", "format", "n_bytes")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("content"),
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("format"),
            org.apache.spark.sql.functions.col("n_bytes")).as("meta")).as("media"))
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeMedia(bad).collect()
    }
    assert(e.getMessage.contains("undecodable") ||
      Option(e.getCause).exists(_.getMessage.contains("undecodable")))
  }

  test("frameSample explodes sampled frame indices") {
    val media = Multimodal.attachBinary(docs.toDF("doc_id", "text"), "doc_id", "text", "txt")
    val frames = Multimodal.frameSample(Multimodal.decodeMedia(media), 100)
    // doc 3: width = 1000 % 640 = 360 → frames 0..2; others width < 100 → 1 frame
    val byId = frames.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(byId(3L) === 3L)
    assert(byId(1L) === 1L)
  }

  // ——— WAV codec (q184) ———

  test("WAV round trip recovers every sample statistic exactly") {
    val id = 42L
    val got = Multimodal.decodeWav(id, Multimodal.encodeWav(id))
    val n = Multimodal.wavSampleCount(id)
    val samples = (0 until n).map(Multimodal.wavSample(id, _))
    assert(got.sample_rate == Multimodal.WavRate)
    assert(got.n_samples == n.toLong)
    assert(got.duration_us == n.toLong * 1000000L / Multimodal.WavRate)
    assert(got.amp_sum == samples.map(s => math.abs(s.toLong)).sum)
    assert(got.energy == samples.map(s => s.toLong * s).sum)
  }

  test("WAV decode walks chunk lists (LIST chunk between fmt and data)") {
    // splice a 6-byte LIST chunk after fmt — real encoders emit these;
    // an offset-44 decoder would misread the data chunk
    val id = 7L
    val plain = Multimodal.encodeWav(id)
    val fmtEnd = 12 + 8 + 16 // RIFF hdr + fmt tag/len + fmt body
    val extra = java.nio.ByteBuffer.allocate(8 + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put("LIST".getBytes("US-ASCII")).putInt(6).put(Array[Byte](1, 2, 3, 4, 5, 6))
    val spliced = plain.take(fmtEnd) ++ extra.array() ++ plain.drop(fmtEnd)
    val got = Multimodal.decodeWav(id, spliced)
    val want = Multimodal.decodeWav(id, plain)
    assert(got.copy(n_bytes = want.n_bytes) == want)
  }

  test("animated GIF: lossless multi-frame round trip, selective decode honors the sample") {
    val id = 13L // 8 frames, 14x2 — the interlace-bug height band
    val bytes = Multimodal.encodeGif(id)
    val n = Multimodal.gifFrameCount(id)
    val all = Multimodal.decodeGifFrames(id, bytes, 0 until n)
    assert(all.map(_.frame_idx) === (0 until n))
    // exact pixel arithmetic per frame — the GIF palette is lossless for gray
    all.foreach { fr =>
      val want = (for (y <- 0 until fr.height; x <- 0 until fr.width)
        yield (7L * x + 13L * y + id + 29L * fr.frame_idx) % 256).sum
      assert(fr.pix_sum === want, s"frame ${fr.frame_idx} sum mismatch")
    }
    // selective decode returns exactly the requested frames, in order
    val sampled = Multimodal.decodeGifFrames(id, bytes, Seq(1, 5))
    assert(sampled.map(_.frame_idx) === Seq(1, 5))
    assert(sampled.map(_.pix_sum) === Seq(all(1).pix_sum, all(5).pix_sum))
    // out-of-range indices — high OR negative — are skipped, not thrown
    assert(Multimodal.decodeGifFrames(id, bytes, Seq(-1, 0, 99)).map(_.frame_idx) === Seq(0))
  }

  test("dHash: gradient direction sets bits, brightness offset is invariant") {
    def grayPng(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // 9×6 = one pixel per grid cell: bit (cy·8+cx) ⇔ left brighter
    val increasing = grayPng(9, 6)((x, _) => x * 10)
    assert(Multimodal.dhash48(1L, increasing) === 0L,
      "left-darker gradient must set no bits")
    val decreasing = grayPng(9, 6)((x, _) => 250 - x * 10)
    assert(Multimodal.dhash48(2L, decreasing) === (1L << 48) - 1,
      "left-brighter gradient must set all 48 bits")
    // perceptual property: a global brightness shift preserves the hash
    val shifted = grayPng(9, 6)((x, _) => 240 - x * 10)
    assert(Multimodal.dhash48(3L, shifted) === Multimodal.dhash48(2L, decreasing))
    // and a higher-resolution render of the same gradient agrees too
    val hiRes = grayPng(36, 24)((x, _) => 250 - (x / 4) * 10)
    assert(Multimodal.dhash48(4L, hiRes) === Multimodal.dhash48(2L, decreasing),
      "downsampling must make resolution invisible to the hash")
  }

  test("WAV decode honors the RIFF pad byte after an odd-length fmt chunk") {
    // spec-conforming foreign WAV: fmt with a 1-byte extension
    // (len 17, odd) followed by the UNCOUNTED pad byte; a decoder that
    // repositions by the raw length misreads every later chunk tag
    val id = 9L
    val plain = Multimodal.encodeWav(id)
    val bb = java.nio.ByteBuffer.allocate(plain.length + 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(plain, 0, 16)                 // RIFF hdr + "fmt " tag
    bb.putInt(17)                        // odd fmt length
    bb.put(plain, 20, 16)                // canonical 16-byte fmt body
    bb.put(0.toByte)                     // extension byte (counted)
    bb.put(0.toByte)                     // pad byte (NOT counted)
    bb.put(plain, 36, plain.length - 36) // data chunk onward
    val got = Multimodal.decodeWav(id, bb.array())
    val want = Multimodal.decodeWav(id, plain)
    assert(got.copy(n_bytes = want.n_bytes) == want)
  }

  test("malformed WAV fails loudly") {
    val e = intercept[IllegalArgumentException] {
      Multimodal.decodeWav(1L, "RIFFxxxxNOPE".getBytes("US-ASCII"))
    }
    assert(e.getMessage.contains("WAVE"))
  }

  test("WAV decode survives a foreign file with an ODD data chunk followed by more chunks") {
    // data len=5 (2 samples + 1 torn byte) + 1 uncounted pad, then a
    // trailing LIST chunk the walk must still land on cleanly
    val bb = java.nio.ByteBuffer.allocate(100).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(72).put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(5)
      .putShort(3).putShort(-4).put(9.toByte) // torn byte (counted)
      .put(0.toByte)                          // RIFF pad (uncounted)
    bb.put("LIST".getBytes("US-ASCII")).putInt(4).putInt(0)
    val bytes = java.util.Arrays.copyOf(bb.array(), bb.position())
    val whole = Multimodal.decodeWav(7L, bytes)
    assert(whole.n_samples === 2L && whole.amp_sum === 7L && whole.energy === 25L,
      s"misaligned walk: $whole")
    val frames = Multimodal.decodeWavFrames(7L, bytes, frameLen = 80)
    assert(frames.map(_.energy).sum === 25L && frames.head.n === 2)
    // a garbage (negative) chunk length must fail loudly, never spin
    val bad = java.util.Arrays.copyOf(bytes, bytes.length)
    // overwrite the data chunk length (offset 40) with 0xFFFFFFFF
    bad(40) = -1; bad(41) = -1; bad(42) = -1; bad(43) = -1
    val e = intercept[IllegalArgumentException] { Multimodal.decodeWav(7L, bad) }
    assert(e.getMessage.contains("negative chunk length"))
  }

  test("framed features tile the clip exactly: energies sum to the whole-clip decode") {
    (0L to 5L).foreach { id =>
      val whole = Multimodal.decodeWav(id, Multimodal.encodeWav(id))
      val frames = Multimodal.decodeWavFrames(id, Multimodal.encodeWav(id), frameLen = 80)
      assert(frames.map(_.n.toLong).sum === whole.n_samples, s"id=$id frame sizes don't tile")
      assert(frames.map(_.energy).sum === whole.energy, s"id=$id energy not additive")
      assert(frames.map(_.frame) === frames.indices.toList, s"id=$id frames not dense")
      assert(frames.init.forall(_.n == 80) || frames.size == 1, s"id=$id non-final short frame")
      assert(frames.forall(f => f.peak <= 1000 && f.zcr < f.n), s"id=$id feature bounds")
    }
  }

  test("q242 voiced segments: islands exactly match the planted (id + f) % 3 voicing pattern") {
    val segs = Multimodal.voicedSegmentsQuery(spark, sf)
      .select("doc_id", "seg_start", "seg_end", "n_frames")
      .as[(Long, Int, Int, Long)].collect()
    assert(segs.nonEmpty)
    // recompute expected islands per clip from the generator
    val byClip = segs.groupBy(_._1)
    byClip.foreach { case (id, ss) =>
      val n = Multimodal.vadSampleCount(id)
      val nFrames = (n + 79) / 80
      // model the threshold exactly: a voiced-pattern frame can still
      // fall under it when the clip's short FINAL frame has too few
      // samples to accumulate energy
      def frameEnergy(f: Int): Long =
        (f * 80 until math.min((f + 1) * 80, n))
          .map { i => val x = Multimodal.vadSample(id, i).toLong; x * x }.sum
      val voiced = (0 until nFrames).filter(f => frameEnergy(f) >= 1000000L)
      val expected = voiced.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, f) if f == e + 1 => (s, f) :: rest
        case (acc, f) => (f, f) :: acc
      }.reverse
      val got = ss.sortBy(_._2).map(s => (s._2, s._3)).toList
      assert(got === expected, s"clip $id islands: got $got expected $expected")
      ss.foreach(s => assert(s._4 === s._3 - s._2 + 1, "n_frames must equal the run length"))
    }
    // the planted pattern has runs of at most 2 voiced frames
    assert(segs.forall(_._4 <= 2))
  }

  test("q241 scene GIF round-trips losslessly and the cut is the ONLY flagged boundary") {
    // lossless: decoded frame pixels equal the generator formula
    val id = 40L // w=41, h=6 — valid dhash geometry
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(Multimodal.encodeSceneGif(id)))
    reader.setInput(iis)
    try {
      assert(reader.getNumImages(true) === Multimodal.SceneGifFrames)
      (0 until Multimodal.SceneGifFrames).foreach { f =>
        val img = reader.read(f)
        (0 until img.getHeight).foreach(y => (0 until img.getWidth).foreach { x =>
          assert((img.getRGB(x, y) & 0xFF) === Multimodal.sceneGifPixel(id, x, y, f),
            s"pixel ($x,$y) frame $f not lossless")
        })
      }
    } finally { reader.dispose(); iis.close() }

    // detector profile on the gate corpus: zero false positives
    // inside scenes, the planted cut found for most clips
    val rows = Multimodal.shotBoundariesQuery(spark, sf)
      .select("doc_id", "frame_idx", "is_boundary")
      .as[(Long, Int, Boolean)].collect()
    val flagged = rows.filter(_._3)
    assert(flagged.nonEmpty && flagged.forall(_._2 === Multimodal.SceneGifSplit),
      s"every flagged boundary must sit at the planted cut; got ${flagged.take(5).toSeq}")
    val clips = rows.map(_._1).distinct.length
    assert(flagged.length.toDouble / clips > 0.8,
      s"the cut should be detected for most clips: ${flagged.length}/$clips")
  }

  test("cross-modal verdicts: agree / text-only / image-only all classify; outer join loses no pair") {
    val txt = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val img = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Multimodal.crossModalVerdicts(txt, img)
      .select("id_a", "id_b", "text_dup", "image_dup", "verdict")
      .as[(Long, Long, Boolean, Boolean, String)].collect().toSet
    assert(got === Set(
      (1L, 2L, true, true, "modality_agree"),
      (3L, 4L, true, false, "text_only"),
      (5L, 6L, false, true, "image_only")))
  }

  test("the dHash artifact extends incrementally: grown == from-scratch rebuild, decode ∝ batch") {
    import org.apache.spark.sql.functions.col
    import graft.sources.bucketed.BucketStore
    val name = "dhash_ext_spec"
    BucketStore.drop(name)
    // day 0: the artifact is built over the then-current corpus
    BucketStore.load(spark, name,
      Multimodal.dhashFrameWhere(spark, sf, col("doc_id") < 300), "doc_id", 8)
    val day0 = spark.read.format("graft-buckets").option("table", name).load().count()
    // day 1: the corpus grows — ONLY the new images decode, and their
    // hashes append through the store's ordinary write path
    Multimodal.dhashFrameWhere(spark, sf, col("doc_id") >= 300)
      .writeTo(s"graft.`$name`").append()
    val grown = spark.read.format("graft-buckets").option("table", name).load()
      .as[(Long, Long)].collect().toSet
    assert(grown.size > day0.toInt, "the append must actually grow the artifact")
    // the q244/q170 bit-identity trick: the grown artifact must equal a
    // from-scratch rebuild over the grown corpus exactly
    val rebuilt = Multimodal.dhashFrame(spark, sf).as[(Long, Long)].collect().toSet
    assert(grown === rebuilt,
      "incremental extension must be bit-identical to the from-scratch build")
    // and a consumer over the grown artifact clusters identically
    val viaArtifact = spark.read.format("graft-buckets").option("table", name).load()
      .groupBy(col("dhash")).count().as[(Long, Long)].collect().toSet
    val viaRebuild = Multimodal.dhashFrame(spark, sf)
      .groupBy(col("dhash")).count().as[(Long, Long)].collect().toSet
    assert(viaArtifact === viaRebuild)
    BucketStore.drop(name)
  }
}
