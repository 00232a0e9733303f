package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.{ImageIoCodec, MediaRow}
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import org.scalatest.funsuite.AnyFunSuite

/** The REAL image path: [[ImageIoCodec]] must decode actual PNG/BMP
  * bytes through the same Spark plumbing (extractFeatures /
  * resizeImages mapPartitions batches) that the oracle-gated stub path
  * uses — true dimensions, a pixel checksum over the decoded raster,
  * and a real decode→scale→re-encode resize. Fixtures are generated
  * in-test with the same JDK imageio that decodes them, so the spec
  * needs no binary files in the repo. */
class MultimodalCodecSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  /** A deterministic w×h gradient, encoded with the given imageio
    * format ("png" / "bmp" / "jpg"). BMP/JPEG have no alpha channel,
    * so the raster type follows the format. `seed` varies the gradient
    * so multi-frame fixtures have distinguishable frames. */
  private def encoded(w: Int, h: Int, format: String,
      seed: Int = 0): Array[Byte] = {
    val kind = if (format == "png") BufferedImage.TYPE_INT_ARGB
      else BufferedImage.TYPE_3BYTE_BGR
    val img = new BufferedImage(w, h, kind)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, 0xff000000
        | ((x * 40 + seed * 90) % 256) << 16 | (y * 60 % 256) << 8
        | (x + y) * 10 % 256)
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, format, bos), s"no $format writer in this JDK")
    bos.toByteArray
  }

  private def pixelSum(bytes: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    (for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      yield img.getRGB(x, y) & 0xffffffffL).sum
  }

  private def media(rows: MediaRow*) = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  test("extractFeatures with ImageIoCodec reports true dims + pixel checksum") {
    val png = encoded(8, 6, "png")
    val bmp = encoded(5, 4, "bmp")
    val feats = Multimodal.extractFeatures(
        media(MediaRow(1L, "image", png, "t"), MediaRow(2L, "image", bmp, "t")),
        partitions = 2, codec = ImageIoCodec)
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Long]("checksum"), r.getAs[Int]("n_bytes")))).toMap
    assert(feats(1L) == ((8, 6, pixelSum(png), png.length)))
    assert(feats(2L) == ((5, 4, pixelSum(bmp), bmp.length)))
  }

  test("resizeImages with ImageIoCodec re-encodes at the target dims") {
    val png = encoded(16, 12, "png")
    val out = Multimodal.resizeImages(
        media(MediaRow(7L, "image", png, "t")), 4, 3, codec = ImageIoCodec)
      .collect()
    assert(out.length == 1)
    val payload = out.head.getAs[Array[Byte]]("payload")
    val decoded = ImageIO.read(new ByteArrayInputStream(payload))
    assert((decoded.getWidth, decoded.getHeight) == ((4, 3)))
    // deterministic re-encode: a retried task must reproduce the bytes
    val again = Multimodal.resizeImages(
        media(MediaRow(7L, "image", png, "t")), 4, 3, codec = ImageIoCodec)
      .collect().head.getAs[Array[Byte]]("payload")
    assert(java.util.Arrays.equals(payload, again))
    // a solid-color source stays solid through bilinear scaling: the
    // resize really resamples pixels rather than slicing bytes
    val solid = new BufferedImage(9, 9, BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 9; x <- 0 until 9) solid.setRGB(x, y, 0xff336699)
    val sbos = new ByteArrayOutputStream()
    ImageIO.write(solid, "png", sbos)
    val small = Multimodal.resizeImages(
        media(MediaRow(8L, "image", sbos.toByteArray, "t")), 3, 3,
        codec = ImageIoCodec)
      .collect().head.getAs[Array[Byte]]("payload")
    val simg = ImageIO.read(new ByteArrayInputStream(small))
    for (y <- 0 until 3; x <- 0 until 3)
      assert(simg.getRGB(x, y) == 0xff336699)
  }

  /** A `seconds`-long sine at `hz` with peak `amp` (0..1), encoded as a
    * 16-bit signed little-endian PCM WAV at `rate` Hz mono. */
  private def sineWav(rate: Int, hz: Double, amp: Double,
      seconds: Double): Array[Byte] = {
    import javax.sound.sampled._
    val n = (rate * seconds).toInt
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (math.sin(2 * math.Pi * hz * i / rate) * amp * 32767).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("extractAudioFeatures decodes real WAV: format header + RMS level") {
    val wav = sineWav(rate = 8000, hz = 440, amp = 0.6, seconds = 0.5)
    val feats = Multimodal.extractAudioFeatures(
        media(MediaRow(3L, "audio", wav, "t"),
          MediaRow(4L, "video", Array[Byte](9, 9), "t")), // filtered out
        partitions = 2)
      .collect()
    assert(feats.length == 1, "only audio rows decode")
    val r = feats.head
    assert(r.getAs[Long]("media_id") == 3L)
    assert(r.getAs[Int]("sample_rate") == 8000)
    assert(r.getAs[Int]("channels") == 1)
    assert(r.getAs[Int]("bits") == 16)
    assert(r.getAs[Long]("n_frames") == 4000L)
    assert(math.abs(r.getAs[Double]("duration_ms") - 500.0) < 1e-9)
    // RMS of a sine with peak A is A/sqrt(2)
    assert(math.abs(r.getAs[Double]("rms") - 0.6 / math.sqrt(2)) < 0.005,
      r.getAs[Double]("rms").toString)
    // silence is exactly quiet
    val silent = sineWav(8000, 440, amp = 0.0, seconds = 0.1)
    val s = Multimodal.extractAudioFeatures(
      media(MediaRow(5L, "audio", silent, "t")), partitions = 1).collect().head
    assert(s.getAs[Double]("rms") == 0.0)
  }

  test("8-bit PCM WAV decodes through the unsigned branch") {
    import javax.sound.sampled._
    // constant half-scale signal: 8-bit UNSIGNED PCM stores 128+64
    val n = 800
    val pcm = Array.fill[Byte](n)((128 + 64).toByte)
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
      8000f, 8, 1, 1, 8000f, false)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val r = Multimodal.extractAudioFeatures(
      media(MediaRow(12L, "audio", bos.toByteArray, "t")), partitions = 1)
      .collect().head
    assert(r.getAs[Int]("bits") == 8)
    assert(r.getAs[Long]("n_frames") == n.toLong)
    // a constant 64/128 signal has RMS exactly 0.5
    assert(math.abs(r.getAs[Double]("rms") - 0.5) < 1e-9,
      r.getAs[Double]("rms").toString)
  }

  test("non-audio payload fails loudly in the audio path") {
    val e = intercept[Exception] {
      Multimodal.extractAudioFeatures(
          media(MediaRow(6L, "audio", Array[Byte](1, 2, 3), "t")),
          partitions = 1)
        .collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    assert(messages(e).exists(_.contains("not a decodable audio")), messages(e))
  }

  // ---- real AVI fixtures, byte-built with the RIFF chunk grammar ----

  private def le32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
    .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  private def chunk(id: String, data: Array[Byte]): Array[Byte] = {
    val pad = if (data.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
    id.getBytes("ISO-8859-1") ++ le32(data.length) ++ data ++ pad
  }

  private def riffList(listType: String, items: Array[Byte]*): Array[Byte] =
    chunk("LIST", listType.getBytes("ISO-8859-1") ++ items.flatten)

  /** A minimal but spec-shaped AVI: RIFF(hdrl(avih, strl(strh, strf)),
    * movi(frames)). `comp` "DIB" reuses a real BMP's own info header +
    * bottom-up pixel array per frame; "MJPG" embeds whole JPEGs. */
  private def avi(w: Int, h: Int, comp: String,
      frames: Seq[Array[Byte]], strfOverride: Option[Array[Byte]] = None,
      audioFirst: Boolean = false): Array[Byte] = {
    val nStreams = if (audioFirst) 2 else 1
    val avih = new Array[Byte](56)
    System.arraycopy(le32(33333), 0, avih, 0, 4) // usec/frame
    System.arraycopy(le32(frames.length), 0, avih, 16, 4) // total frames
    System.arraycopy(le32(nStreams), 0, avih, 24, 4) // streams
    System.arraycopy(le32(w), 0, avih, 32, 4)
    System.arraycopy(le32(h), 0, avih, 36, 4)
    val strh = new Array[Byte](56)
    System.arraycopy("vids".getBytes("ISO-8859-1"), 0, strh, 0, 4)
    val strf = strfOverride.getOrElse {
      if (comp == "MJPG") {
        val b = new Array[Byte](40)
        System.arraycopy(le32(40), 0, b, 0, 4)
        System.arraycopy(le32(w), 0, b, 4, 4)
        System.arraycopy(le32(h), 0, b, 8, 4)
        b(12) = 1; b(14) = 24
        System.arraycopy("MJPG".getBytes("ISO-8859-1"), 0, b, 16, 4)
        b
      } else {
        // reuse a real BMP's own BITMAPINFOHEADER so the DIB strf and
        // the frames agree on every field the BMP reader looks at
        val bmp = encoded(w, h, "bmp")
        val pixOff = java.nio.ByteBuffer.wrap(bmp, 10, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        java.util.Arrays.copyOfRange(bmp, 14, pixOff)
      }
    }
    // audio-first mux: stream 0 is 'auds', the video stream is 1 and
    // its movi chunks carry the '01' prefix — the layout that used to
    // silently yield zero frames
    val vidIdx = if (audioFirst) "01" else "00"
    val frameId = vidIdx + (if (comp == "MJPG") "dc" else "db")
    val audioStrl = if (!audioFirst) Array.empty[Byte] else {
      val ah = new Array[Byte](56)
      System.arraycopy("auds".getBytes("ISO-8859-1"), 0, ah, 0, 4)
      riffList("strl", chunk("strh", ah), chunk("strf", new Array[Byte](16)))
    }
    val hdrl = riffList("hdrl", Seq(chunk("avih", avih)) ++
      (if (audioFirst) Seq(audioStrl) else Nil) :+
      riffList("strl", chunk("strh", strh), chunk("strf", strf)): _*)
    val audioChunks = if (audioFirst)
      frames.map(_ => chunk("00wb", new Array[Byte](8))) else Nil
    val movi = riffList("movi",
      frames.map(chunk(frameId, _)) ++ audioChunks: _*)
    val body = "AVI ".getBytes("ISO-8859-1") ++ hdrl ++ movi
    "RIFF".getBytes("ISO-8859-1") ++ le32(body.length) ++ body
  }

  /** The bottom-up padded-BGR pixel array of a freshly encoded BMP —
    * exactly what an uncompressed AVI stores per frame. */
  private def dibFrame(w: Int, h: Int, seed: Int): Array[Byte] = {
    val bmp = encoded(w, h, "bmp", seed)
    val pixOff = java.nio.ByteBuffer.wrap(bmp, 10, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.copyOfRange(bmp, pixOff, bmp.length)
  }

  test("uncompressed AVI: sampleFramesDecoded yields real frames imageio decodes") {
    val (w, h) = (5, 3)
    val seeds = Seq(0, 1, 2)
    val payload = avi(w, h, "DIB", seeds.map(dibFrame(w, h, _)))
    val rows = Multimodal.sampleFramesDecoded(
        media(MediaRow(30L, "video", payload, "t"),
          MediaRow(31L, "image", encoded(4, 4, "png"), "t")), // filtered out
        n = 3)
      .collect().sortBy(_.getAs[Int]("frame_idx"))
    assert(rows.length == 3, "3 sampled frames from the video row only")
    for ((r, seed) <- rows.zip(seeds)) {
      assert(r.getAs[Long]("media_id") == 30L)
      assert(r.getAs[Int]("src_frame") == seed) // n == total: identity
      val frame = r.getAs[Array[Byte]]("frame_payload")
      // the wrapped frame is a SELF-CONTAINED image: the real image
      // codec reports true dims and the exact source raster pixels
      val f = ImageIoCodec.decode(MediaRow(30L, "image", frame, "t"))
      assert((f.width, f.height) == ((w, h)))
      assert(f.checksum == pixelSum(encoded(w, h, "bmp", seed)))
    }
    // offsets are real container seek positions: strictly increasing
    val offs = rows.map(_.getAs[Int]("offset"))
    assert(offs.sameElements(offs.sorted) && offs.distinct.length == 3)
    // n = 1 samples the FIRST frame (floor spacing), not a byte slice
    val one = Multimodal.sampleFramesDecoded(
      media(MediaRow(30L, "video", payload, "t")), n = 1).collect()
    assert(one.length == 1 && one.head.getAs[Int]("src_frame") == 0)
  }

  test("audio-first AVI: video at stream 1 still yields its frames") {
    // common mux order — stream 0 'auds' (chunks 00wb), video at
    // stream 1 (chunks 01db). The frame walk keys on the vids stream's
    // strh INDEX, so this must decode identically to the 00-prefix
    // layout, not silently return zero frames.
    val (w, h) = (5, 3)
    val seeds = Seq(0, 1)
    val payload = avi(w, h, "DIB", seeds.map(dibFrame(w, h, _)),
      audioFirst = true)
    val rows = Multimodal.sampleFramesDecoded(
        media(MediaRow(50L, "video", payload, "t")), n = 2)
      .collect().sortBy(_.getAs[Int]("frame_idx"))
    assert(rows.length == 2, "both video frames found behind the audio stream")
    for ((r, seed) <- rows.zip(seeds)) {
      val f = ImageIoCodec.decode(MediaRow(50L, "image",
        r.getAs[Array[Byte]]("frame_payload"), "t"))
      assert((f.width, f.height) == ((w, h)))
      assert(f.checksum == pixelSum(encoded(w, h, "bmp", seed)))
    }
  }

  test("MJPEG AVI: 00dc chunks pass through as decodable JPEGs") {
    val (w, h) = (6, 4)
    val jpegs = Seq(encoded(w, h, "jpg", 0), encoded(w, h, "jpg", 3))
    val payload = avi(w, h, "MJPG", jpegs)
    val rows = Multimodal.sampleFramesDecoded(
        media(MediaRow(40L, "video", payload, "t")), n = 2)
      .collect().sortBy(_.getAs[Int]("frame_idx"))
    assert(rows.length == 2)
    for ((r, jpeg) <- rows.zip(jpegs)) {
      val f = ImageIoCodec.decode(
        MediaRow(40L, "image", r.getAs[Array[Byte]]("frame_payload"), "t"))
      assert((f.width, f.height) == ((w, h)))
      // JPEG is lossy but decoding the SAME bytes is deterministic
      assert(f.checksum == pixelSum(jpeg))
    }
  }

  test("OpenDML MJPEG: frames omitting DHT decode via injected standard tables") {
    val (w, h) = (6, 4)
    // OpenDML's implied-tables abbreviation: the DHT segments are
    // simply absent; decoders are expected to supply the Annex K
    // standard tables. Build such frames by stripping DHT from real
    // encoder output.
    def stripDht(j: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(j, 0, 2)
      var off = 2
      var done = false
      while (!done) {
        val m = j(off + 1) & 0xff
        if (m == 0xda) { out.write(j, off, j.length - off); done = true }
        else {
          val len = ((j(off + 2) & 0xff) << 8) | (j(off + 3) & 0xff)
          if (m != 0xc4) out.write(j, off, 2 + len)
          off += 2 + len
        }
      }
      out.toByteArray
    }
    val full = Seq(encoded(w, h, "jpg", 0), encoded(w, h, "jpg", 3))
    val stripped = full.map(stripDht)
    assert(stripped.zip(full).forall { case (s, f) => s.length < f.length },
      "fixture must actually remove DHT segments")
    // the JDK's own decoder happens to supply default tables for
    // abbreviated JPEGs, so decodability alone can't prove the
    // injection — pin SELF-CONTAINMENT structurally: the emitted
    // payload must carry DHT segments the stored chunk lacks (the
    // contract is "self-contained image payload" for ANY downstream
    // decoder, not just this JVM's lenient one)
    def hasDhtMarker(j: Array[Byte]): Boolean = {
      var off = 2
      var saw = false
      var done = false
      while (!done) {
        val m = j(off + 1) & 0xff
        if (m == 0xda) done = true
        else {
          if (m == 0xc4) saw = true
          off += 2 + (((j(off + 2) & 0xff) << 8) | (j(off + 3) & 0xff))
        }
      }
      saw
    }
    assert(stripped.forall(!hasDhtMarker(_)))
    val payload = avi(w, h, "MJPG", stripped)
    val rows = Multimodal.sampleFramesDecoded(
        media(MediaRow(41L, "video", payload, "t")), n = 2)
      .collect().sortBy(_.getAs[Int]("frame_idx"))
    assert(rows.length == 2)
    for ((r, jpeg) <- rows.zip(full)) {
      val frame = r.getAs[Array[Byte]]("frame_payload")
      assert(hasDhtMarker(frame),
        "emitted frame payload must carry the injected standard tables")
      val f = ImageIoCodec.decode(MediaRow(41L, "image", frame, "t"))
      assert((f.width, f.height) == ((w, h)))
      // the injected tables ARE the standard tables the encoder wrote,
      // so pixels decode identically to the unabbreviated original
      assert(f.checksum == pixelSum(jpeg))
    }
    // frames that DO carry their tables pass through untouched — the
    // original MJPEG test covers it; here pin the byte-identity
    val parsed = graft.operators.AviContainer.parse(
      avi(w, h, "MJPG", full))
    assert(graft.operators.AviContainer
      .framePayload(avi(w, h, "MJPG", full), parsed, 0)
      .sameElements(full.head))
  }

  test("AVI parser fails loudly on non-AVI and on codec-compressed streams") {
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    val notAvi = intercept[Exception] {
      Multimodal.sampleFramesDecoded(
        media(MediaRow(50L, "video", Array[Byte](1, 2, 3), "t")), n = 2)
        .collect()
    }
    assert(messages(notAvi).exists(_.contains("not a RIFF AVI")),
      messages(notAvi))
    // an H.264 fourcc must be rejected, not byte-sliced into garbage
    val h264Strf = {
      val b = new Array[Byte](40)
      System.arraycopy(le32(40), 0, b, 0, 4)
      System.arraycopy(le32(4), 0, b, 4, 4)
      System.arraycopy(le32(4), 0, b, 8, 4)
      b(12) = 1; b(14) = 24
      System.arraycopy("H264".getBytes("ISO-8859-1"), 0, b, 16, 4)
      b
    }
    val compressed = intercept[Exception] {
      Multimodal.sampleFramesDecoded(
        media(MediaRow(51L, "video",
          avi(4, 4, "MJPG", Seq(Array[Byte](0, 1, 2)),
            strfOverride = Some(h264Strf)), "t")), n = 1)
        .collect()
    }
    assert(messages(compressed).exists(_.contains("unsupported AVI frame")),
      messages(compressed))
  }

  test("non-image payload fails loudly, not with fake dimensions") {
    val e = intercept[Exception] {
      Multimodal.extractFeatures(
          media(MediaRow(9L, "image", Array[Byte](1, 2, 3, 4), "t")),
          partitions = 1, codec = ImageIoCodec)
        .collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    assert(messages(e).exists(_.contains("not a decodable")), messages(e))
  }

  /** Gray horizontal gradient with optional direction flip and a
    * deterministic ±1 noise floor — the dHash fixture family. */
  private def gradient(w: Int, h: Int, reversed: Boolean,
      noisy: Boolean): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until h; x <- 0 until w) {
      val xx = if (reversed) w - 1 - x else x
      val base = math.min(255, xx * 256 / w)
      val n = if (noisy) (x * 7 + y * 13) % 3 - 1 else 0
      val v = math.max(0, math.min(255, base + n))
      img.setRGB(x, y, 0xff000000 | v << 16 | v << 8 | v)
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash: re-encode invariant, noise tolerant, direction sensitive; banded pairs find the visual near-dups") {
    def rowOf(id: Long, b: Array[Byte]) = MediaRow(id, "image", b, "t")
    def h(b: Array[Byte]) = ImageIoCodec.dHashOf(rowOf(0L, b))
    val base = gradient(72, 40, reversed = false, noisy = false)
    val noisyB = gradient(72, 40, reversed = false, noisy = true)
    val far = gradient(72, 40, reversed = true, noisy = false)
    // lossless re-encode (BMP of the same raster) hashes identically
    val raster = ImageIO.read(new ByteArrayInputStream(base))
    val bgr = new BufferedImage(72, 40, BufferedImage.TYPE_3BYTE_BGR)
    val g = bgr.createGraphics(); g.drawImage(raster, 0, 0, null); g.dispose()
    val bos = new ByteArrayOutputStream(); ImageIO.write(bgr, "bmp", bos)
    assert(h(base) == h(bos.toByteArray))
    // ±1 pixel noise moves few bits; reversing the gradient flips most
    assert(java.lang.Long.bitCount(h(base) ^ h(noisyB)) <= 6)
    assert(java.lang.Long.bitCount(h(base) ^ h(far)) >= 32)
    // end-to-end through Spark: decode map-only, band, verify
    import spark.implicits._
    val media = Seq(rowOf(1L, base), rowOf(2L, noisyB), rowOf(3L, far))
      .toDS()
    val hashes = Multimodal.imageDHashes(media)
    val pairs = graft.operators.Dedup
      .hammingNearDupPairs(hashes, "media_id", "dhash", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  /** 16-bit mono PCM with a per-sample amplitude envelope, written as
    * WAV (little-endian) or AIFF (big-endian) — same samples, different
    * container, for the re-encode-invariance check. */
  private def envAudio(n: Int, env: Int => Double,
      aiff: Boolean = false): Array[Byte] = {
    import javax.sound.sampled._
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (math.sin(2 * math.Pi * 440.0 * i / 8000) * env(i) * 32767).toInt
      if (aiff) { pcm(2 * i) = ((s >> 8) & 0xff).toByte
        pcm(2 * i + 1) = (s & 0xff).toByte }
      else { pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte }
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, aiff)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong),
      if (aiff) AudioFileFormat.Type.AIFF else AudioFileFormat.Type.WAVE,
      bos)
    bos.toByteArray
  }

  test("audio fingerprint: container invariant, gain tolerant, envelope sensitive; pairs through the same Hamming operator") {
    import graft.operators.Multimodal.WavCodec
    def rowOf(id: Long, b: Array[Byte]) = MediaRow(id, "audio", b, "t")
    val n = 6400
    val zig = (i: Int) => if ((i / (n / 16)) % 2 == 0) 0.8 else 0.2
    val zigHalf = (i: Int) => zig(i) * 0.5
    val flat = (i: Int) => 1.0 - zig(i) // inverted loud/quiet pattern
    val wav = envAudio(n, zig)
    val aiffSame = envAudio(n, zig, aiff = true)
    val half = envAudio(n, zigHalf)
    val other = envAudio(n, flat)
    def fp(b: Array[Byte]) = WavCodec.fingerprint(rowOf(0L, b))
    // identical samples, different container → identical fingerprint
    assert(fp(wav) == fp(aiffSame))
    // -6 dB gain scales every window's energy uniformly → comparisons
    // survive (boundary windows may flip on integer rounding)
    assert(java.lang.Long.bitCount(fp(wav) ^ fp(half)) <= 4)
    // the inverted envelope flips most comparisons
    assert(java.lang.Long.bitCount(fp(wav) ^ fp(other)) >= 24)
    // end-to-end: decode map-only, band, verify — same pairing
    // operator as the image path
    import spark.implicits._
    val m = Seq(rowOf(1L, wav), rowOf(2L, half), rowOf(3L, other)).toDS()
    val pairs = graft.operators.Dedup
      .hammingNearDupPairs(Multimodal.audioFingerprints(m),
        "media_id", "afp", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // too-short clips fail loudly, never a garbage fingerprint
    val e = intercept[IllegalArgumentException] {
      WavCodec.fingerprint(rowOf(9L, envAudio(40, zig)))
    }
    assert(e.getMessage.contains(">= 65 samples"))
  }

  test("hammingNearDupPairs: pigeonhole recall exact below bands; multi-band match yields one pair") {
    import spark.implicits._
    // flip 3 bits spread across 3 different 16-bit bands: one band
    // stays clean, so the pair MUST be found (hamming 3 < 4 bands)
    val h0 = 0x0123456789abcdefL
    val h1 = h0 ^ (1L << 2) ^ (1L << 20) ^ (1L << 40)
    // 16 flips confined to band 0: bands 1-3 all match (a multi-band
    // candidate) but true hamming 16 fails the verify
    val h2 = h0 ^ 0xffffL
    val hashes = Seq((1L, h0), (2L, h1), (3L, h2)).toDF("id", "h")
    val got = graft.operators.Dedup
      .hammingNearDupPairs(hashes, "id", "h", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 3)))
    // identical hashes: every band matches, distinct keeps one pair
    val dup = Seq((1L, h0), (2L, h0)).toDF("id", "h")
    val one = graft.operators.Dedup
      .hammingNearDupPairs(dup, "id", "h", maxHamming = 0).collect()
    assert(one.length == 1 && one.head.getInt(2) == 0)
  }

  test("hammingNearDupPairs maxKeyFreq: adversarial constant key capped, sub-cap band still recalls") {
    import spark.implicits._
    // 6 hashes share band 0 (low 16 bits = 0) but are far apart
    // elsewhere — the all-black-thumbnail shape. Two of them (1, 2)
    // ALSO share bands 1-3 (hamming 2, both flips in band 0's window
    // is impossible here, so put the 2 flips in band 0 via the upper
    // band... simpler: ids 1 and 2 differ only in band 1 by 2 bits).
    val base = 0x1111222233330000L
    val mk = (i: Long) => (i * 0x9e3779b97f4a7c15L) & 0xffffffffffff0000L
    val crowd = (3L to 6L).map(i => (i, mk(i)))
    val near = Seq((1L, base), (2L, base ^ (3L << 16))) // 2 flips, band 1
    val hashes = (near ++ crowd).toDF("id", "h")
    // band 0 key 0 is shared by all 6 (> cap 5) and dropped; the near
    // pair still matches on bands 2 and 3, so the cap costs no recall
    val capped = graft.operators.Dedup
      .hammingNearDupPairs(hashes, "id", "h", maxHamming = 3,
        maxKeyFreq = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped == Set((1L, 2L, 2)))
    // recall honesty: an exact-dup cluster that is over-cap in EVERY
    // band vanishes under the cap (route such inputs via exact dedup)
    val const = (1L to 4L).map(i => (i, 42L)).toDF("id", "h")
    assert(graft.operators.Dedup
      .hammingNearDupPairs(const, "id", "h", 0, maxKeyFreq = 3L)
      .count() == 0L)
    // a group of exactly maxKeyFreq members is kept: all 4·3/2 pairs
    assert(graft.operators.Dedup
      .hammingNearDupPairs(const, "id", "h", 0, maxKeyFreq = 4L)
      .count() == 6L)
    assert(graft.operators.Dedup
      .hammingNearDupPairs(const, "id", "h", 0)
      .count() == 6L)
  }
}
