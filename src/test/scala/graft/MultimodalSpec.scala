package graft

import java.awt.image.BufferedImage
import java.nio.file.Files
import javax.imageio.ImageIO


/** End-to-end image decode through the real distribution plumbing:
  * generated PNGs go binaryFile → mapPartitions → javax.imageio and
  * come back with true dimensions; non-image bytes take the documented
  * deterministic stub fallback. */
class MultimodalSpec extends SparkSuite {
  private def writePng(dir: java.nio.file.Path, name: String, w: Int, h: Int): Unit = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 7 + y * 13) % 256) * 0x010101) // deterministic gray ramp
    ImageIO.write(img, "png", dir.resolve(name).toFile)
  }

  test("generated PNGs decode end-to-end with true dimensions and bands") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_png")
    writePng(dir, "a.png", 37, 21)
    writePng(dir, "b.png", 300, 200)
    val feats = graft.engine.Multimodal
      .decodeImages(graft.engine.Multimodal.readBinary(spark, dir.toString, "*.png"))
      .collect().map(f => f.path.split('/').last -> f).toMap
    assert(feats("a.png").width == 37 && feats("a.png").height == 21)
    assert(feats("b.png").width == 300 && feats("b.png").height == 200)
    // TYPE_INT_RGB rasters carry 3 bands; histogram mass = min(pixels, 64Ki)
    assert(feats("a.png").channels == 3)
    assert(feats("a.png").histogram.sum.toLong == 37L * 21L)
    assert(feats("b.png").histogram.sum.toLong == 300L * 200L)
  }

  test("non-image bytes fall back to the deterministic stub") {
    val junk = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val f = graft.engine.Multimodal.imageioDecode("x.bin", junk)
    assert(f.isEmpty)
    val stub = graft.engine.Multimodal.stubDecode("x.bin", junk)
    assert(stub.width == 64 + 1000 % 512 && stub.height == 64 + (1000 / 7) % 512)
    assert(stub.histogram.sum.toLong == 1000L)
  }

  test("a PNG byte stream routed through decodeImages uses the real decoder") {
    // the dispatch inside the mapPartitions kernel: imageio first
    val img = new BufferedImage(5, 9, BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val decoded = graft.engine.Multimodal.imageioDecode("m.png", bos.toByteArray)
    assert(decoded.exists(f => f.width == 5 && f.height == 9))
  }

  /** 16-bit PCM mono WAV of a full-scale-ish sine at `hz`. */
  private def writeWav(dir: java.nio.file.Path, name: String,
                       sampleRate: Int, nFrames: Int, hz: Double,
                       amp: Double): Unit = {
    import javax.sound.sampled._
    val pcm = new Array[Byte](nFrames * 2)
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until nFrames).foreach { i =>
      bb.putShort((math.sin(2 * math.Pi * hz * i / sampleRate) * amp * 32767).toShort)
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, dir.resolve(name).toFile)
  }

  test("generated WAVs decode end-to-end with true rate/frames/duration/RMS") {
    val dir = Files.createTempDirectory("graft_wav")
    writeWav(dir, "tone.wav", sampleRate = 8000, nFrames = 4000,
      hz = 440.0, amp = 0.5)
    val feats = graft.engine.Multimodal
      .decodeAudio(graft.engine.Multimodal.readBinary(spark, dir.toString, "*.wav"))
      .collect()
    assert(feats.length == 1)
    val f = feats.head
    assert(f.sample_rate == 8000 && f.channels == 1 && f.n_frames == 4000L)
    assert(math.abs(f.duration_sec - 0.5) < 1e-9)
    // a sine of amplitude a has RMS a/sqrt(2)
    assert(math.abs(f.rms - 0.5 / math.sqrt(2.0)) < 0.01,
      s"rms ${f.rms} should be ~${0.5 / math.sqrt(2.0)}")
  }

  test("non-audio bytes fall back to the deterministic audio stub") {
    val junk = Array.tabulate[Byte](800)(i => (i % 97).toByte)
    assert(graft.engine.Multimodal.audioDecode("x.bin", junk).isEmpty)
    val stub = graft.engine.Multimodal.stubAudio("x.bin", junk)
    assert(stub.n_frames == 200L && stub.sample_rate == 16000)
  }

  /** Build a minimal but spec-shaped ISO-BMFF file byte-by-byte:
    * ftyp + moov(mvhd, trak(tkhd, mdia(hdlr, minf(stbl(stsd(avc1)))))). */
  private def minimalMp4(timescale: Int, duration: Int,
                         w: Int, h: Int, fourcc: String): Array[Byte] = {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes("ISO-8859-1")).put(payload)
      bb.array()
    }
    val ftyp = box("ftyp", "isom".getBytes ++ Array.fill[Byte](4)(0) ++ "isom".getBytes)
    val mvhd = { // version 0: ts at offset 12, duration at 16, payload 100 bytes
      val b = java.nio.ByteBuffer.allocate(100)
      b.putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(duration)
      box("mvhd", b.array())
    }
    val tkhd = { // version 0: width/height as 16.16 fixed at offsets 76/80
      val b = java.nio.ByteBuffer.allocate(84)
      b.position(76); b.putInt(w << 16).putInt(h << 16)
      box("tkhd", b.array())
    }
    val hdlr = { // handler_type 'vide' at payload offset 8
      val b = java.nio.ByteBuffer.allocate(24)
      b.position(8); b.put("vide".getBytes("ISO-8859-1"))
      box("hdlr", b.array())
    }
    val stsd = { // entry_count 1, then a 16-byte sample entry with the fourcc
      val entry = java.nio.ByteBuffer.allocate(16)
      entry.putInt(16).put(fourcc.getBytes("ISO-8859-1"))
      val b = java.nio.ByteBuffer.allocate(8 + 16)
      b.putInt(0).putInt(1).put(entry.array())
      box("stsd", b.array())
    }
    val trak = box("trak", tkhd ++ box("mdia", hdlr ++ box("minf", box("stbl", stsd))))
    ftyp ++ box("moov", mvhd ++ trak)
  }

  test("minimal MP4 container metadata parses with true duration/dims/codec") {
    val bytes = minimalMp4(timescale = 1000, duration = 7500, w = 640, h = 360,
      fourcc = "avc1")
    val meta = graft.engine.Multimodal.mp4Probe("clip.mp4", bytes)
    assert(meta.isDefined, "well-formed ftyp+moov must parse")
    val m = meta.get
    assert(m.duration_sec == 7.5)
    assert(m.n_tracks == 1)
    assert(m.video_codec == "avc1")
    assert(m.width == 640 && m.height == 360)
  }

  test("mp4 probe routed through probeVideos uses the real parser; junk stubs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mp4")
    java.nio.file.Files.write(dir.resolve("clip.mp4"),
      minimalMp4(600, 1200, 320, 240, "hvc1"))
    java.nio.file.Files.write(dir.resolve("junk.mp4"),
      Array.tabulate[Byte](700)(i => (i % 89).toByte))
    val rows = graft.engine.Multimodal
      .probeVideos(graft.engine.Multimodal.readBinary(spark, dir.toString, "*.mp4"))
      .collect().map(v => v.path.split('/').last -> v).toMap
    assert(rows("clip.mp4").video_codec == "hvc1")
    assert(rows("clip.mp4").duration_sec == 2.0)
    assert(rows("clip.mp4").width == 320 && rows("clip.mp4").height == 240)
    // truncated/garbage bytes: deterministic stub, never a crash
    assert(rows("junk.mp4").video_codec == "stub")
    assert(rows("junk.mp4").n_tracks == 1 + 700 % 3)
  }

  test("corrupt box sizes terminate the walk instead of looping or throwing") {
    val good = minimalMp4(1000, 1000, 64, 64, "avc1")
    // lie about the moov size: point it past EOF
    val bad = good.clone()
    val moovOff = {
      var off = 0; var found = -1
      while (found < 0 && off + 8 <= bad.length) {
        val t = new String(bad.slice(off + 4, off + 8), "ISO-8859-1")
        if (t == "moov") found = off
        else off += java.nio.ByteBuffer.wrap(bad, off, 4).getInt
      }
      found
    }
    java.nio.ByteBuffer.wrap(bad, moovOff, 4).putInt(Int.MaxValue)
    // must not throw; moov walk aborts → treated as unparseable
    assert(graft.engine.Multimodal.mp4Probe("x.mp4", bad).isEmpty)
    // and zero-length / tiny buffers are safe too
    assert(graft.engine.Multimodal.mp4Probe("e.mp4", Array.emptyByteArray).isEmpty)
  }

  test("blob fingerprint replays from raw bytes; identical blobs distance 0") {
    import spark.implicits._
    val rows = SparkEntry.queries("q215_blob_fingerprint")(spark, "unused")
      .select($"file_a", $"file_b", $"fp_a", $"fp_b", $"hamming")
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // JVM replay of one file's fingerprint from its raw bytes
    val corpus = new java.io.File("/root/testdata/sf0.01")
      .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def fpOf(f: java.io.File): Long = {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val len = bytes.length.toLong
      def v(k: Long): Long = bytes(((k * (len - 1)) / 64).toInt) & 0xffL
      (0 until 63).map(k => if (v(k + 1) > v(k)) 1L << k else 0L).sum
    }
    val first = corpus.head
    val expectFp = fpOf(first)
    val seen = rows.collectFirst {
      case r if r._1 == first.getName => r._3
      case r if r._2 == first.getName => r._4
    }
    assert(seen.contains(expectFp), s"fingerprint of ${first.getName}")
    // Hamming replay + self-similarity: fp vs itself is distance 0
    rows.foreach { r =>
      assert(r._5 === java.lang.Long.bitCount(r._3 ^ r._4).toLong)
      assert(r._5 >= 0L && r._5 <= 63L)
    }
  }
}
