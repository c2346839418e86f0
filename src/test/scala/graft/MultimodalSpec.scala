package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.operators.Multimodal.Decoder

/** M5 multimodal plumbing: binary payload + metadata schema, REAL
  * container-header decode (PNG IHDR / JPEG SOFn / GIF block walk),
  * failure isolation, frame sampling.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def hex2bytes(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // hand-built container fixtures with known dimensions
  private def png(w: Int, h: Int): Array[Byte] = hex2bytes(
    "89504E470D0A1A0A" + "0000000D" + "49484452" +
      f"$w%08X" + f"$h%08X" + "0802000000" + "00000000" +
      "0000000049454E44AE426082")
  private def jpeg(w: Int, h: Int): Array[Byte] = hex2bytes(
    "FFD8" + "FFE000104A46494600010100000100010000" + // APP0 before SOF
      "FFC0001108" + f"$h%04X" + f"$w%04X" + "03012200021101031101" +
      "FFD9")
  private def gif(w: Int, h: Int, frames: Int): Array[Byte] = {
    def le16(v: Int) = f"${v % 256}%02X" + f"${v / 256}%02X"
    val frame = "2C00000000" + le16(w) + le16(h) + "00" + "02" + "0100" + "00"
    hex2bytes("474946383961" + le16(w) + le16(h) + "000000" +
      frame * frames + "3B")
  }

  private def media = Multimodal.asMultimodal(
    Seq((1L, "web", "hello world"), (2L, "web", "abc"))
      .toDF("doc_id", "source", "text"))

  test("asMultimodal: binary payload + typed metadata struct") {
    val m = media
    assert(m.schema("payload").dataType.typeName == "binary")
    val meta = m.filter(col("media_id") === 1L)
      .select("meta.mime", "meta.n_bytes", "meta.origin")
      .as[(String, Long, String)].head()
    assert(meta == ("application/octet-stream", 11L, "web"))
  }

  test("Headers decoder parses PNG, JPEG (marker walk), animated GIF") {
    assert(Decoder.Headers.decode(png(640, 480)) == ((640, 480, 1)))
    assert(Decoder.Headers.decode(png(1, 99999)) == ((1, 99999, 1)))
    assert(Decoder.Headers.decode(jpeg(1024, 768)) == ((1024, 768, 1)))
    // 0xFF fill bytes before a marker are legal (ISO 10918-1 B.1.1.2)
    val filled = hex2bytes("FFD8" + "FFFFFF" + "C0001108" + "0300" + "0200" +
      "03012200021101031101" + "FFD9")
    assert(Decoder.Headers.decode(filled) == ((512, 768, 1)))
    assert(Decoder.Headers.decode(gif(320, 200, 1)) == ((320, 200, 1)))
    // animated: frame count = number of image descriptors walked
    assert(Decoder.Headers.decode(gif(16, 16, 7)) == ((16, 16, 7)))
  }

  test("Headers decoder rejects malformed containers") {
    val bad = Seq(
      "hello world".getBytes("UTF-8"), // no signature
      png(10, 10).take(20), // truncated IHDR
      hex2bytes("FFD8FFD9"), // JPEG with no SOF before EOI
      gif(8, 8, 1).dropRight(2), // GIF missing terminator+trailer
      Array.empty[Byte])
    bad.foreach { b =>
      intercept[RuntimeException](Decoder.Headers.decode(b))
    }
  }

  test("extractFeatures: real dims out of real bytes, per-row batches") {
    val m = Seq(
      (1L, png(800, 600)),
      (2L, jpeg(640, 400)),
      (3L, gif(100, 50, 3)),
      (4L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val f = Multimodal.extractFeatures(m).orderBy("media_id")
      .select("media_id", "width", "height", "n_frames")
      .as[(Long, Option[Int], Option[Int], Option[Int])].collect().toSeq
    assert(f == Seq(
      (1L, Some(800), Some(600), Some(1)),
      (2L, Some(640), Some(400), Some(1)),
      (3L, Some(100), Some(50), Some(3)),
      (4L, None, None, None))) // decoder failure nulls out, row kept
    // byte md5 matches an independent digest of the same bytes
    val md5s = Multimodal.extractFeatures(m)
      .select("media_id", "payload_md5").as[(Long, String)].collect().toMap
    assert(md5s(1L) == java.security.MessageDigest.getInstance("MD5")
      .digest(png(800, 600)).map("%02x".format(_)).mkString)
  }

  test("decoder failure yields null features, not task failure") {
    val out = Multimodal.extractFeatures(media).orderBy("media_id")
    assert(out.count() == 2) // text payloads are not images
    assert(out.filter(col("width").isNull).count() == 2)
    // payload md5 still computed
    assert(out.filter(col("payload_md5").isNull).count() == 0)
  }

  test("resizeMeta: aspect-preserving fit, passthrough when already small") {
    val feats = Seq(
      (1L, 640, 480), // landscape, shrink to 320x240
      (2L, 100, 100), // already fits: passthrough
      (3L, 200, 480), // portrait: bind height
      (4L, 0, 400) // degenerate zero width
    ).toDF("media_id", "width", "height")
    val out = Multimodal.resizeMeta(feats, 320, 240).orderBy("media_id")
      .select("out_w", "out_h").as[(Int, Int)].collect().toSeq
    assert(out == Seq((320, 240), (100, 100), (100, 240), (0, 240)))
  }

  test("sampleFrames: every stride-th frame index per media row") {
    val m = Seq((1L, gif(32, 32, 12)), (2L, "junk".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(
      Multimodal.extractFeatures(m), stride = 4)
      .select("media_id", "frame_idx").as[(Long, Int)].collect().toSeq
    assert(frames.filter(_._1 == 1L).map(_._2).sorted == Seq(0, 4, 8))
    assert(!frames.exists(_._1 == 2L)) // null n_frames emits no rows
  }

  // ------------------------------------------------- audio/video headers

  private def le16h(v: Int) = f"${v % 256}%02X" + f"${v / 256}%02X"
  private def le32h(v: Int) =
    f"${v % 256}%02X" + f"${v / 256 % 256}%02X" +
      f"${v / 65536 % 256}%02X" + f"${v / 16777216 % 256}%02X"

  private def wav(ch: Int, rate: Int, bits: Int, dataSize: Int): Array[Byte] = {
    val byteRate = rate * ch * bits / 8
    hex2bytes("52494646" + le32h(36 + dataSize) + "57415645" +
      "666D7420" + "10000000" + "0100" + le16h(ch) + le32h(rate) +
      le32h(byteRate) + le16h(ch * bits / 8) + le16h(bits) +
      "64617461" + le32h(dataSize))
  }

  private def mp4(w: Int, h: Int, durMs: Int): Array[Byte] = hex2bytes(
    "00000010" + "66747970" + "69736F6D" + "00000000" +
      "00000088" + "6D6F6F76" +
      "0000001C" + "6D766864" + "00" * 12 + "000003E8" + f"$durMs%08X" +
      "00000064" + "7472616B" +
      "0000005C" + "746B6864" + "00" * 12 + "00000001" + "00000000" +
      f"$durMs%08X" + "00" * 8 + "00000000" + "00000000" +
      "000100000000000000000000" + "000000000001000000000000" +
      "000000000000000040000000" +
      f"$w%04X" + "0000" + f"$h%04X" + "0000")

  test("AvHeaders parses WAV fmt/data chunks and MP4 mvhd/tkhd boxes") {
    val a = Multimodal.AvHeaders.decode(wav(2, 44100, 16, 44100 * 4 * 3))
    assert(a == Multimodal.AvInfo("wav", Some(44100), Some(2), Some(16),
      None, None, Some(3000L)))
    // odd data size exercises the even-padding walk and duration floor
    val odd = Multimodal.AvHeaders.decode(wav(1, 8000, 8, 12001))
    assert(odd.durationMs.contains(1500L))
    val v = Multimodal.AvHeaders.decode(mp4(1280, 720, 12500))
    assert(v == Multimodal.AvInfo("mp4", None, None, None, Some(1280),
      Some(720), Some(12500L)))
  }

  test("AvHeaders rejects malformed audio/video containers") {
    def fails(b: Array[Byte]) = intercept[IllegalArgumentException](
      Multimodal.AvHeaders.decode(b))
    fails("plain text".getBytes("UTF-8")) // unrecognized
    fails(hex2bytes("52494646" + "24000000" + "57415645")) // no chunks
    // fmt chunk declaring fewer than 16 bytes
    fails(hex2bytes("52494646" + "10000000" + "57415645" +
      "666D7420" + "0C000000" + "0100" + le16h(1) + le32h(8000)))
    // data chunk but no fmt
    fails(hex2bytes("52494646" + "10000000" + "57415645" +
      "64617461" + "04000000" + "00000000"))
    // zero byte rate would divide by zero: must fail structurally
    fails(wav(1, 0, 8, 100))
    // mp4 without moov / with a corrupt (size < 8) box
    fails(hex2bytes("00000010" + "66747970" + "69736F6D" + "00000000"))
    fails(hex2bytes("00000010" + "66747970" + "69736F6D" + "00000000" +
      "00000004" + "6D6F6F76"))
    // corrupt sizes near the unsigned-32 top must terminate (no Int
    // wrap): a WAV chunk size of 0xFFFFFFF8 once advanced the walk by
    // exactly 0 — the infinite-loop regression — and an MP4 box size in
    // [2^31, 2^32) once drove the cursor negative
    fails(hex2bytes("52494646" + "24000000" + "57415645" +
      "4A554E4B" + "F8FFFFFF" + "00000000"))
    fails(hex2bytes("00000010" + "66747970" + "69736F6D" + "00000000" +
      "80000010" + "6A756E6B" + "00000000"))
    // moov without trak: mvhd alone is not enough
    fails(hex2bytes("00000010" + "66747970" + "69736F6D" + "00000000" +
      "00000024" + "6D6F6F76" +
      "0000001C" + "6D766864" + "00" * 12 + "000003E8" + "00001000"))
  }

  test("extractAvFeatures: typed facts per container, nulls on garbage") {
    val m = Seq(
      (1L, wav(1, 16000, 8, 16000 * 2)),
      (2L, mp4(640, 360, 7000)),
      (3L, "not media at all".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val out = Multimodal.extractAvFeatures(m).orderBy("media_id").collect()
    assert(out(0).getAs[String]("container") == "wav")
    assert(out(0).getAs[Int]("sample_rate") == 16000)
    assert(out(0).getAs[Long]("duration_ms") == 2000L)
    assert(out(0).isNullAt(out(0).fieldIndex("width")))
    assert(out(1).getAs[String]("container") == "mp4")
    assert(out(1).getAs[Int]("width") == 640)
    assert(out(1).getAs[Long]("duration_ms") == 7000L)
    assert(out(1).isNullAt(out(1).fieldIndex("sample_rate")))
    assert(out(2).isNullAt(out(2).fieldIndex("container")))
    assert(out(2).getAs[Long]("n_bytes") == 16L)
  }

  test("Mp4Samples resolves chunked offsets from stsz+stsc+stco; " +
      "rejects structural damage") {
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def be64(v: Long) = be32((v >>> 32).toInt) ++ be32(v.toInt)
    def box(typ: String, p: Array[Byte]) =
      be32(8 + p.length) ++ typ.getBytes("US-ASCII") ++ p
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0))
    def stbl(boxes: Array[Byte], extra: Array[Byte] = Array.empty) =
      ftyp ++ box("moov", extra ++ box("trak",
        box("mdia", box("minf", box("stbl", boxes)))))
    // two stsc runs over 3 chunks: chunks 1-2 hold 2 samples, chunk 3
    // holds 1 — 5 samples total, chunk bases far apart (interleaved file)
    val table = be32(0) ++ be32(0) ++ be32(5) ++
      Array(10, 20, 30, 40, 50).flatMap(be32)
    val stsc2 = be32(0) ++ be32(2) ++
      (be32(1) ++ be32(2) ++ be32(1)) ++ (be32(3) ++ be32(1) ++ be32(1))
    val stco3 = be32(0) ++ be32(3) ++ be32(1000) ++ be32(5000) ++ be32(9000)
    val freeBox = box("free", Array[Byte](1, 2, 3))
    val t = Multimodal.Mp4Samples.decode(stbl(
      box("stsz", table) ++ box("stsc", stsc2) ++ box("stco", stco3),
      freeBox))
    assert(t.sizes.toSeq == Seq(10, 20, 30, 40, 50))
    // chunk 1: 1000, 1000+10; chunk 2: 5000, 5000+30; chunk 3: 9000 —
    // intra-chunk running sums restart at each chunk base
    assert(t.offsets.toSeq == Seq(1000L, 1010L, 5000L, 5030L, 9000L))
    // uniform stsz form + co64 (64-bit chunk offsets) resolve the same way
    val uniform = be32(0) ++ be32(777) ++ be32(4)
    val stsc1 = be32(0) ++ be32(1) ++ (be32(1) ++ be32(2) ++ be32(1))
    val co64 = be32(0) ++ be32(2) ++ be64(1L << 33) ++ be64((1L << 33) + 9999)
    val u = Multimodal.Mp4Samples.decode(stbl(
      box("stsz", uniform) ++ box("stsc", stsc1) ++ box("co64", co64)))
    assert(u.sizes.toSeq == Seq(777, 777, 777, 777))
    assert(u.offsets.toSeq == Seq(1L << 33, (1L << 33) + 777,
      (1L << 33) + 9999, (1L << 33) + 9999 + 777))
    def fails(bytes: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException](
        Multimodal.Mp4Samples.decode(bytes))
      assert(e.getMessage.contains(what), s"got: ${e.getMessage}")
    }
    fails("utterly not an mp4".getBytes, "no ftyp")
    // stsz claims more table entries than its box holds
    fails(stbl(box("stsz", be32(0) ++ be32(0) ++ be32(99) ++ be32(10)) ++
      box("stsc", stsc1) ++ box("stco", stco3)), "truncated stsz")
    // a box whose size overruns its parent
    val overrun = ftyp ++ box("moov", be32(9999) ++ "trak".getBytes ++
      Array[Byte](0))
    fails(overrun, "bad box size")
    // structurally fine files with a table missing
    fails(ftyp ++ box("moov", box("trak", box("mdia", Array.empty[Byte]))),
      "no stsz")
    fails(stbl(box("stsz", table) ++ box("stco", stco3)), "no stsc")
    fails(stbl(box("stsz", table) ++ box("stsc", stsc2)), "no stco")
    // truncated stsc / stco claims
    fails(stbl(box("stsz", table) ++
      box("stsc", be32(0) ++ be32(99) ++ be32(1)) ++ box("stco", stco3)),
      "truncated stsc")
    fails(stbl(box("stsz", table) ++ box("stsc", stsc2) ++
      box("stco", be32(0) ++ be32(99) ++ be32(1000))), "truncated stco")
    // chunk capacity (2+2) cannot hold the 5 declared samples
    fails(stbl(box("stsz", table) ++ box("stsc", stsc1) ++
      box("stco", be32(0) ++ be32(2) ++ be32(100) ++ be32(200))),
      "disagree")
    // stsc runs must start at chunk 1 and ascend
    fails(stbl(box("stsz", table) ++
      box("stsc", be32(0) ++ be32(1) ++ (be32(2) ++ be32(5) ++ be32(1))) ++
      box("stco", stco3)), "start at chunk 1")
    fails(stbl(box("stsz", table) ++
      box("stsc", be32(0) ++ be32(2) ++ (be32(1) ++ be32(2) ++ be32(1)) ++
        (be32(1) ++ be32(3) ++ be32(1))) ++
      box("stco", stco3)), "not ascending")
    // stss: absent → every sample sync; present → exactly the listed
    // (1-based → 0-based); empty present table → none sync
    assert(t.sync.isEmpty && t.syncIndices.toSeq == Seq(0, 1, 2, 3, 4))
    val withStss = Multimodal.Mp4Samples.decode(stbl(
      box("stsz", table) ++ box("stsc", stsc2) ++ box("stco", stco3) ++
        box("stss", be32(0) ++ be32(2) ++ be32(1) ++ be32(4))))
    assert(withStss.syncIndices.toSeq == Seq(0, 3))
    val emptyStss = Multimodal.Mp4Samples.decode(stbl(
      box("stsz", table) ++ box("stsc", stsc2) ++ box("stco", stco3) ++
        box("stss", be32(0) ++ be32(0))))
    assert(emptyStss.sync.isDefined && emptyStss.syncIndices.isEmpty)
    // invalid stss: out-of-range sample number, non-ascending, truncated
    fails(stbl(box("stsz", table) ++ box("stsc", stsc2) ++
      box("stco", stco3) ++
      box("stss", be32(0) ++ be32(1) ++ be32(6))), "out of range")
    fails(stbl(box("stsz", table) ++ box("stsc", stsc2) ++
      box("stco", stco3) ++
      box("stss", be32(0) ++ be32(2) ++ be32(3) ++ be32(3))),
      "stss not ascending")
    fails(stbl(box("stsz", table) ++ box("stsc", stsc2) ++
      box("stco", stco3) ++
      box("stss", be32(0) ++ be32(9))), "truncated stss")
  }

  test("extractEmbeddings sniffs TIFF (II/MM) and embeds it identically " +
      "to the same raster as PNG") {
    import graft.operators.{PixelCodec, TiffCodec}
    val w = 6; val h = 5
    val px = Array.tabulate(w * h * 3)(i => ((i * 11 + 3) % 256).toByte)
    val rows = Seq(
      (1L, TiffCodec.encodeTiff(w, h, 3, 2, px)),
      (2L, TiffCodec.encodeTiff(w, h, 3, 2, px, bigEndian = true,
        compression = 5, predictor = 2)),
      (3L, PixelCodec.encodePng(PixelCodec.Image(w, h, 3, px),
        filterFor = _ => 0, idatChunk = 64, interlace = false)),
      (4L, "not an image".getBytes("UTF-8")))
    val df = rows.toDF("media_id", "payload")
    val out = Multimodal.extractEmbeddings(df, tw = 2, th = 2)
      .orderBy("media_id").collect()
    val v1 = out(0).getSeq[Float](1)
    assert(v1 == out(1).getSeq[Float](1), "LZW/MM TIFF == baseline TIFF")
    assert(v1 == out(2).getSeq[Float](1), "TIFF == PNG of the same raster")
    assert(out(3).isNullAt(1), "garbage still nulls")
  }
}
