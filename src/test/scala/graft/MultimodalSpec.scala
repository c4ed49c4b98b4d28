package graft

import graft.multimodal.{Multimodal, StubDecoder}
import graft.multimodal.Multimodal.{MediaRow, MediaFeatures}

/** Stub-decoder goldens (the rolling frame checksum has no SQL oracle)
  * and binary-column round-trip through the typed Dataset path. */
class MultimodalSpec extends SparkSpec {

  test("decodeStub: hand-computed golden on a tiny payload") {
    // "abcd" = bytes 97 98 99 100 → one 16-byte frame, sampled.
    val f = StubDecoder.decode(MediaRow(7L, "image", "abcd".getBytes("UTF-8")))
    assert(f == MediaFeatures(7L, "image", 4L, 394L, 98.5, 1, 1,
      ((( (97L*31 + 98) *31 + 99) * 31 + 100) % 1000000007L)))
  }

  test("decodeStub: frame sampling takes every 4th frame") {
    val payload = Array.fill(16 * 9 + 1)(1.toByte)    // 10 frames
    val f = StubDecoder.decode(MediaRow(1L, "audio", payload))
    assert(f.n_frames == 10)
    assert(f.n_sampled == 3)                           // frames 0, 4, 8
  }

  test("binary payload survives the Dataset round trip intact") {
    val media = Multimodal.mediaTable(spark, sf()).collect()
    assert(media.nonEmpty)
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    media.take(20).foreach { m =>
      assert(new String(m.payload, "UTF-8") == docs(m.doc_id))
    }
  }

  test("frame-sample listing agrees with the decoder's sampled-frame count") {
    import org.apache.spark.sql.functions._
    val listed = graft.ops.MultimodalPack.queries("mm_frame_sample")(spark, sf())
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decoded = Multimodal.featuresDF(spark, sf())
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("n_sampled"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(listed.nonEmpty)
    assert(listed == decoded)
  }

  test("extractFeatures is deterministic across runs") {
    val a = Multimodal.featuresDF(spark, sf()).collect().toSeq.sortBy(_.getLong(0))
    val b = Multimodal.featuresDF(spark, sf()).collect().toSeq.sortBy(_.getLong(0))
    assert(a == b)
  }

  test("a custom decoder injects via conf and flows through unchanged mm_* queries") {
    import org.apache.spark.sql.functions._
    spark.conf.set(Multimodal.DecoderConfKey, classOf[HalfFrameDecoder].getName)
    try {
      // resolveDecoder honors the conf...
      assert(Multimodal.resolveDecoder(spark).isInstanceOf[HalfFrameDecoder])
      // ...and the UNMODIFIED query surface picks it up: n_frames halves.
      val custom = graft.ops.MultimodalPack.queries("mm_decode_features")(spark, sf())
        .select(col("doc_id"), col("n_frames"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      spark.conf.unset(Multimodal.DecoderConfKey)
      val stub = graft.ops.MultimodalPack.queries("mm_decode_features")(spark, sf())
        .select(col("doc_id"), col("n_frames"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(custom.keySet == stub.keySet && custom.nonEmpty)
      assert(custom.forall { case (id, nf) => nf == stub(id) / 2 })
    } finally spark.conf.unset(Multimodal.DecoderConfKey)
  }

  test("a Scala-object decoder resolves through its MODULE$ class name") {
    spark.conf.set(Multimodal.DecoderConfKey, graft.ObjectDecoder.getClass.getName)
    try assert(Multimodal.resolveDecoder(spark) eq graft.ObjectDecoder)
    finally spark.conf.unset(Multimodal.DecoderConfKey)
  }

  test("open() runs before decode on every partition") {
    val media = Multimodal.mediaTable(spark, sf()).repartition(4)
    val got = Multimodal.extractFeatures(media, new OpenCountingDecoder).collect()
    // Each row decoded AFTER its partition's open(): the decoder marks
    // rows decoded-before-open with media_type "NOT_OPENED".
    assert(got.nonEmpty && got.forall(_.media_type != "NOT_OPENED"))
  }

  // ---- the REAL codec through the seam (VERDICT r7 item 6) ----------

  test("spectral features: hand-computed goldens, block boundary included") {
    import graft.multimodal.WavMediaDecoder.spectral
    // [1, -1, 2, -3]: crossings at (1,-1), (-1,2), (2,-3) = 3;
    // energy 1+1+4+9 = 15, one block → max = total.
    assert(spectral(Array[Short](1, -1, 2, -3), 1) == (3L, 15L, 15L))
    // Zero counts as NON-negative: [0, -1, 0] crosses twice.
    assert(spectral(Array[Short](0, -1, 0), 1) == (2L, 1L, 1L))
    // Block boundary at 160 mono samples: 160 ones then one 3 —
    // second block energy 9, first 160; total 169; no crossings.
    val b = Array.fill[Short](161)(1); b(160) = 3
    assert(spectral(b, 1) == (0L, 160L, 169L))
    // Stereo: block spans 320 interleaved samples — all in one block.
    val st = Array.fill[Short](320)(2)
    assert(spectral(st, 2) == (0L, 320L * 4, 320L * 4))
    assert(spectral(Array.empty[Short], 1) == (0L, 0L, 0L))
  }

  test("BmpCodec round-trips 24-bit pixels exactly, padding included") {
    // 3x2 (stride 12, 3 pad bytes/row) and 4x3 (stride 12, no padding).
    for ((w, h) <- Seq((3, 2), (4, 3))) {
      val px = Array.tabulate(w * h)(i => (i * 37 + 11) * 65793 % 0x1000000)
      val bytes = graft.multimodal.BmpCodec.encode(w, h, px)
      assert(graft.multimodal.BmpCodec.isBmp(bytes))
      val (dw, dh, got) = graft.multimodal.BmpCodec.decode(bytes)
      assert(dw == w && dh == h && got.sameElements(px))
    }
    // Text payloads must NOT parse as BMP (the fallback trigger).
    assert(!graft.multimodal.BmpCodec.isBmp("BMnot an image".getBytes("UTF-8")))
  }

  test("malformed BMP headers route to the stub, never crash the task") {
    import java.nio.{ByteBuffer, ByteOrder}
    // Start from a valid image, then corrupt each header field a
    // hostile/corrupt payload could carry: negative pixel offset,
    // overflow-scale width, negative height. isBmp must reject ALL of
    // them (decode() would otherwise index out of bounds or allocate
    // absurdly), and the decoder must fall back to byte statistics.
    val good = graft.multimodal.BmpCodec.encode(3, 2, Array.fill(6)(0x808080))
    def corrupt(at: Int, v: Int): Array[Byte] = {
      val b = good.clone()
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(at, v)
      b
    }
    val bad = Seq(
      corrupt(10, -54),          // negative pixel-data offset
      corrupt(18, 1 << 30),      // width*3 overflows int
      corrupt(22, -2),           // negative height
      corrupt(18, 1 << 20))      // dims past MaxDim: giant allocation
    bad.zipWithIndex.foreach { case (p, i) =>
      assert(!graft.multimodal.BmpCodec.isBmp(p), s"corrupt header $i accepted")
      val f = graft.multimodal.BmpMediaDecoder.decode(MediaRow(9L, "image", p))
      assert(f == graft.multimodal.StubDecoder.decode(MediaRow(9L, "image", p)),
        s"corrupt payload $i did not fall back to the stub")
    }
    assert(graft.multimodal.BmpCodec.isBmp(good), "control: the valid image parses")
  }

  test("BmpMediaDecoder: hand-computed luminance features on a real image") {
    // 2x1: pure red (luma 299*255/1000 = 76) and pure white (luma 255).
    val bytes = graft.multimodal.BmpCodec.encode(2, 1, Array(0xff0000, 0xffffff))
    val f = graft.multimodal.BmpMediaDecoder.decode(MediaRow(5L, "image", bytes))
    assert(f.doc_id == 5L && f.n_bytes == bytes.length.toLong)
    assert(f.byte_sum == 76L + 255L)
    assert(f.mean_byte == (76.0 + 255.0) / 2)
    assert(f.n_frames == 1 && f.n_sampled == 1)       // one scanline, sampled
    assert(f.sampled_checksum == (76L * 31 + 255L) % 1000000007L)
  }

  test("real BMP bytes decode through the unchanged extractFeatures seam") {
    import spark.implicits._
    // Distributed decode of genuine encoded images — the feature rows
    // must differ from the stub's byte statistics on the same payloads
    // (pixel domain vs raw-byte domain), proving a real codec ran.
    val media = (0L until 40L).map { id =>
      val w = 4 + (id % 3).toInt; val h = 2 + (id % 5).toInt
      val px = Array.tabulate(w * h)(i => ((id * 131 + i * 997) % 0x1000000).toInt)
      MediaRow(id, "image", graft.multimodal.BmpCodec.encode(w, h, px))
    }.toDS().repartition(4)
    val real = Multimodal.extractFeatures(media, graft.multimodal.BmpMediaDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    val stub = Multimodal.extractFeatures(media, graft.multimodal.StubDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    assert(real.size == 40)
    (0L until 40L).foreach { id =>
      assert(real(id).n_frames == 2 + (id % 5).toInt, "frames = image height")
      assert(real(id) != stub(id), "pixel features must differ from byte stats")
    }
    // Determinism across runs (retried-task contract).
    val again = Multimodal.extractFeatures(media, graft.multimodal.BmpMediaDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    assert(again == real)
  }

  test("BmpMediaDecoder via conf: unchanged mm_* query, safe fallback on text") {
    import org.apache.spark.sql.functions._
    // The fixture media table carries TEXT payloads — a session-wide
    // swap to the BMP decoder must degrade to the stub's statistics,
    // not crash the query surface.
    spark.conf.set(Multimodal.DecoderConfKey,
      graft.multimodal.BmpMediaDecoder.getClass.getName)
    try {
      assert(Multimodal.resolveDecoder(spark) eq graft.multimodal.BmpMediaDecoder)
      val viaBmp = graft.ops.MultimodalPack.queries("mm_decode_features")(spark, sf())
        .collect().map(_.toSeq).toSet
      spark.conf.unset(Multimodal.DecoderConfKey)
      val viaStub = graft.ops.MultimodalPack.queries("mm_decode_features")(spark, sf())
        .collect().map(_.toSeq).toSet
      assert(viaBmp == viaStub && viaBmp.nonEmpty)
    } finally spark.conf.unset(Multimodal.DecoderConfKey)
  }

  // ---- second real codec + the format registry (VERDICT r8 item 7) --

  test("PnmCodec round-trips PGM and PPM exactly, comments and whitespace included") {
    val gray = Array.tabulate(12)(i => (i * 23 + 7) % 256)
    val pgm = graft.multimodal.PnmCodec.encodePgm(4, 3, gray)
    assert(graft.multimodal.PnmCodec.isPnm(pgm))
    val (c1, w1, h1, g1) = graft.multimodal.PnmCodec.decode(pgm)
    assert(!c1 && w1 == 4 && h1 == 3 && g1.sameElements(gray))
    val rgb = Array.tabulate(6)(i => (i * 37 + 11) * 65793 % 0x1000000)
    val ppm = graft.multimodal.PnmCodec.encodePpm(3, 2, rgb)
    val (c2, w2, h2, g2) = graft.multimodal.PnmCodec.decode(ppm)
    assert(c2 && w2 == 3 && h2 == 2 && g2.sameElements(rgb))
    // Netpbm headers allow comments and arbitrary whitespace runs.
    val commented = ("P5 # a comment\n# another\n 4\t3 #dims\n255\n")
      .getBytes("US-ASCII") ++ gray.map(_.toByte)
    val (c3, w3, h3, g3) = graft.multimodal.PnmCodec.decode(commented)
    assert(!c3 && w3 == 4 && h3 == 3 && g3.sameElements(gray))
  }

  test("malformed PNM headers route to the stub, never crash the task") {
    val gray = Array.fill(6)(128)
    def pnm(hdr: String, body: Int = 6): Array[Byte] =
      hdr.getBytes("US-ASCII") ++ Array.fill(body)(128.toByte)
    val bad = Seq(
      pnm("P5\n4 3\n255\n"),                // truncated body (needs 12)
      pnm("P5\n0 3\n255\n"),                // zero width
      pnm("P5\n-2 3\n255\n"),               // negative width (non-digit)
      pnm("P5\n3 2\n65535\n", 12),          // multi-byte maxval unsupported
      pnm("P5\n99999999999 2\n255\n", 12),  // dims overflow / past cap
      pnm("P7\n3 2\n255\n"),                // unknown magic
      "not a pnm at all".getBytes("UTF-8"))
    bad.zipWithIndex.foreach { case (p, i) =>
      assert(!graft.multimodal.PnmCodec.isPnm(p), s"corrupt header $i accepted")
      val f = graft.multimodal.PnmMediaDecoder.decode(MediaRow(9L, "image", p))
      assert(f == graft.multimodal.StubDecoder.decode(MediaRow(9L, "image", p)),
        s"corrupt payload $i did not fall back to the stub")
    }
    assert(graft.multimodal.PnmCodec.isPnm(
      graft.multimodal.PnmCodec.encodePgm(3, 2, gray)), "control: valid PGM parses")
  }

  test("PnmMediaDecoder: hand-computed luminance on PGM and PPM") {
    // PGM: luma is the gray byte itself.
    val pgm = graft.multimodal.PnmCodec.encodePgm(2, 1, Array(10, 200))
    val fg = graft.multimodal.PnmMediaDecoder.decode(MediaRow(1L, "image", pgm))
    assert(fg.byte_sum == 210L && fg.n_frames == 1 && fg.n_sampled == 1)
    assert(fg.sampled_checksum == (10L * 31 + 200L) % 1000000007L)
    // PPM: BT.601 — pure red 76, pure white 255 (same as the BMP twin).
    val ppm = graft.multimodal.PnmCodec.encodePpm(2, 1, Array(0xff0000, 0xffffff))
    val fp = graft.multimodal.PnmMediaDecoder.decode(MediaRow(2L, "image", ppm))
    assert(fp.byte_sum == 76L + 255L)
    assert(fp.sampled_checksum == (76L * 31 + 255L) % 1000000007L)
  }

  // ---- third real codec: a different MODALITY (16-bit PCM WAV) ------

  test("WavCodec round-trips 16-bit PCM exactly, chunk walk included") {
    import graft.multimodal.WavCodec
    // Mono and stereo, full signed range including Short.MinValue.
    val mono = Array[Short](0, 256, -512, 32767, -32768, 1000)
    val wm = WavCodec.encode(16000, 1, mono)
    assert(WavCodec.isWav(wm))
    val (c1, r1, s1) = WavCodec.decode(wm)
    assert(c1 == 1 && r1 == 16000 && s1.sameElements(mono))
    val stereo = Array[Short](5, -5, 300, -300)
    val ws = WavCodec.encode(44100, 2, stereo)
    val (c2, r2, s2) = WavCodec.decode(ws)
    assert(c2 == 2 && r2 == 44100 && s2.sameElements(stereo))
    // Real encoders emit extra chunks (LIST/INFO, fact) between fmt and
    // data — the chunk walk must skip them.
    val withList = wm.take(36) ++
      "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++
      "INFO".getBytes("US-ASCII") ++ wm.drop(36)
    val (c3, r3, s3) = WavCodec.decode(withList)
    assert(c3 == 1 && r3 == 16000 && s3.sameElements(mono))
    // Text payloads must NOT parse as WAV (the fallback trigger).
    assert(!WavCodec.isWav("RIFFnot a wav at all".getBytes("UTF-8")))
  }

  test("malformed WAV headers route to the stub, never crash the task") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.multimodal.{WavCodec, WavMediaDecoder}
    val good = WavCodec.encode(8000, 1, Array[Short](1, 2, 3, 4))
    def corrupt(f: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); f(b); b
    }
    def put16(b: Array[Byte], at: Int, v: Int): Unit =
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putShort(at, v.toShort)
    def put32(b: Array[Byte], at: Int, v: Int): Unit =
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(at, v)
    val bad = Seq(
      corrupt(put16(_, 20, 3)),            // float format, not PCM
      corrupt(put16(_, 34, 8)),            // 8-bit samples unsupported
      corrupt(put16(_, 22, 3)),            // 3 channels (also breaks align)
      corrupt(put16(_, 32, 4)),            // block align != channels*2
      corrupt(put32(_, 24, 0)),            // zero sample rate
      corrupt(put32(_, 40, 7)),            // data size not sample-aligned
      corrupt(put32(_, 40, 1 << 30)),      // data size past payload end
      good.take(30),                       // truncated mid-header
      "not audio".getBytes("UTF-8"))
    bad.zipWithIndex.foreach { case (p, i) =>
      assert(!WavCodec.isWav(p), s"corrupt header $i accepted")
      val f = WavMediaDecoder.decode(MediaRow(9L, "audio", p))
      assert(f == graft.multimodal.StubDecoder.decode(MediaRow(9L, "audio", p)),
        s"corrupt payload $i did not fall back to the stub")
    }
    assert(WavCodec.isWav(good), "control: the valid clip parses")
  }

  test("WavMediaDecoder: hand-computed amplitude features on a real clip") {
    import graft.multimodal.{WavCodec, WavMediaDecoder}
    // Amplitudes |s|/256: 256 -> 1, -512 -> 2. One 160-frame block.
    val bytes = WavCodec.encode(16000, 1, Array[Short](256, -512))
    val f = WavMediaDecoder.decode(MediaRow(5L, "audio", bytes))
    assert(f.doc_id == 5L && f.n_bytes == bytes.length.toLong)
    assert(f.byte_sum == 3L)
    assert(f.mean_byte == 1.5)
    assert(f.n_frames == 1 && f.n_sampled == 1)
    assert(f.sampled_checksum == (1L * 31 + 2L) % 1000000007L)
    // Block accounting: 161 mono frames -> 2 blocks, blocks 0 sampled.
    val long = WavCodec.encode(16000, 1, Array.fill[Short](161)(256))
    val fl = WavMediaDecoder.decode(MediaRow(6L, "audio", long))
    assert(fl.n_frames == 2 && fl.n_sampled == 1 && fl.byte_sum == 161L)
    // Stereo: 2 channels share a block; all 4 samples sum.
    val st = WavCodec.encode(44100, 2, Array[Short](256, 256, -512, -512))
    val fs = WavMediaDecoder.decode(MediaRow(7L, "audio", st))
    assert(fs.n_frames == 1 && fs.byte_sum == 6L && fs.mean_byte == 1.5)
  }

  test("registry dispatches a MIXED-format media table row by row") {
    import spark.implicits._
    import graft.multimodal.{BmpCodec, PnmCodec, RegistryMediaDecoder}
    // Same pixel content, three encodings per id-class: BMP and PPM
    // rows must land on IDENTICAL luminance features (codec-independent
    // pixel domain), text rows on the stub's byte statistics.
    val media = (0L until 30L).map { id =>
      // pixel content keyed by the TRIPLET (id/3), so the BMP, PPM and
      // text rows of a triplet carry the same image
      val px = Array.tabulate(8)(i => (((id / 3) * 131 + i * 997) % 0x1000000).toInt)
      val payload = id % 3 match {
        case 0 => BmpCodec.encode(4, 2, px)
        case 1 => PnmCodec.encodePpm(4, 2, px)
        case _ => s"text payload $id".getBytes("UTF-8")
      }
      MediaRow(id, "image", payload)
    }.toDS().repartition(3)
    val got = Multimodal.extractFeatures(media, RegistryMediaDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    (0L until 30L by 3).foreach { id =>
      val bmp = got(id); val ppm = got(id + 1); val txt = got(id + 2)
      assert((bmp.byte_sum, bmp.mean_byte, bmp.n_frames, bmp.sampled_checksum) ===
        ((ppm.byte_sum, ppm.mean_byte, ppm.n_frames, ppm.sampled_checksum)),
        "same pixels through different codecs must yield the same features")
      assert(txt == graft.multimodal.StubDecoder.decode(
        MediaRow(id + 2, "image", s"text payload ${id + 2}".getBytes("UTF-8"))))
    }
    // formatOf mirrors the dispatch — across modalities.
    assert(RegistryMediaDecoder.formatOf(BmpCodec.encode(1, 1, Array(0))) == "bmp")
    assert(RegistryMediaDecoder.formatOf(PnmCodec.encodePgm(1, 1, Array(0))) == "pnm")
    assert(RegistryMediaDecoder.formatOf(
      graft.multimodal.WavCodec.encode(8000, 1, Array[Short](1))) == "wav")
    assert(RegistryMediaDecoder.formatOf("nope".getBytes("UTF-8")) == "stub")
  }

  test("registry routes audio rows to the WAV decoder next to image rows") {
    import spark.implicits._
    import graft.multimodal.{RegistryMediaDecoder, WavCodec, WavMediaDecoder}
    val media = (0L until 12L).map { id =>
      val samples = Array.tabulate(200)(i => ((id * 997 + i * 131) % 65536 - 32768).toShort)
      MediaRow(id, "audio", WavCodec.encode(16000, 1, samples))
    }.toDS().repartition(3)
    val viaRegistry = Multimodal.extractFeatures(media, RegistryMediaDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    val direct = Multimodal.extractFeatures(media, WavMediaDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    assert(viaRegistry == direct && viaRegistry.size == 12)
    // 200 mono frames -> 2 blocks of 160; real sample features, not
    // the stub's byte statistics.
    viaRegistry.values.foreach { f =>
      assert(f.n_frames == 2)
      assert(f != graft.multimodal.StubDecoder.decode(
        MediaRow(f.doc_id, "audio", media.filter(_.doc_id == f.doc_id).head().payload)))
    }
  }

  test("registry via conf: unchanged mm_* queries over the registry decoder") {
    spark.conf.set(Multimodal.DecoderConfKey,
      graft.multimodal.RegistryMediaDecoder.getClass.getName)
    try {
      assert(Multimodal.resolveDecoder(spark) eq
        graft.multimodal.RegistryMediaDecoder)
      // The fixture media table is text-backed → every row takes the
      // stub path through the registry; the query surface is unchanged.
      val viaReg = graft.ops.MultimodalPack.queries("mm_modality_mix")(spark, sf())
        .collect().map(_.toSeq).toSet
      spark.conf.unset(Multimodal.DecoderConfKey)
      val viaStub = graft.ops.MultimodalPack.queries("mm_modality_mix")(spark, sf())
        .collect().map(_.toSeq).toSet
      assert(viaReg == viaStub && viaReg.nonEmpty)
    } finally spark.conf.unset(Multimodal.DecoderConfKey)
  }
}

/** Test decoder: halves the frame count (as if frames were 2x the stub's
  * width) — distinguishable from the stub on any multi-frame payload. */
class HalfFrameDecoder extends graft.multimodal.MediaDecoder {
  def decode(row: Multimodal.MediaRow): Multimodal.MediaFeatures = {
    val f = graft.multimodal.StubDecoder.decode(row)
    f.copy(n_frames = f.n_frames / 2, n_sampled = f.n_sampled / 2)
  }
}

/** Test decoder defined as a Scala object (resolved via `...$`). */
object ObjectDecoder extends graft.multimodal.MediaDecoder {
  def decode(row: Multimodal.MediaRow): Multimodal.MediaFeatures =
    graft.multimodal.StubDecoder.decode(row)
}

/** Test decoder proving the per-partition open() ordering contract. */
class OpenCountingDecoder extends graft.multimodal.MediaDecoder {
  @transient private var opened = false
  override def open(): Unit = { opened = true }
  def decode(row: Multimodal.MediaRow): Multimodal.MediaFeatures = {
    val f = graft.multimodal.StubDecoder.decode(row)
    if (opened) f else f.copy(media_type = "NOT_OPENED")
  }
}
