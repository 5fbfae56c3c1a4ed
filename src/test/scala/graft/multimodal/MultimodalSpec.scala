package graft.multimodal

import graft.SparkTestSession
import graft.multimodal.MultimodalOps._
import org.scalatest.funsuite.AnyFunSuite

/** The media catalog entries' codecs and fingerprints: the GRFT stub
  * header round trip, the real BMP/WAV/PNG containers through a distributed
  * decode, the fingerprint kernels' hand math, and malformed-input
  * tolerance (a bad asset drops, never throws).
  */
class MultimodalSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("fake encode/decode header round trip") {
    val payload = "hello multimodal".getBytes("UTF-8")
    val bytes = encodeFake(7L, payload)
    val meta = decodeFake(bytes).get
    assert(meta.kind == "audi") // 7 % 3 == 1
    assert(meta.width == 16 + 7 && meta.height == 9 + 7 && meta.n_frames == 8)
    assert(bytes.drop(HeaderLen).toSeq == payload.toSeq)
  }

  test("malformed binary is dropped, not thrown") {
    assert(decodeFake(Array[Byte](1, 2, 3)).isEmpty)
    assert(decodeFake("XXXX0000000000000000".getBytes).isEmpty)
  }

  test("q38 real-container media census is deterministic and grouped by kind") {
    val rows = MultimodalOps.q38MediaMeta(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("bmp", "wav"))
    assert(rows.map(_.getLong(1)).sum == 500)
    // the BMP payload is the padded pixel buffer, never the raw text length:
    // sum over even doc_ids of ((w*3+3)&~3)*h per the deterministic layout
    val bmpRow = rows.find(_.getString(0) == "bmp").get
    assert(bmpRow.getInt(4) == 16 && bmpRow.getInt(5) == 0) // max_width 4+12, no rate
    val wavRow = rows.find(_.getString(0) == "wav").get
    assert(wavRow.getInt(4) == 0 && wavRow.getInt(5) == 16000) // max rate 8000+2*4000
  }

  test("decodeRealMeta sniffs containers and derives layout-exact metadata") {
    import spark.implicits._
    val decoded = decodeRealMeta(mediaFromDocumentsReal(spark, dir)).collect()
    assert(decoded.length == 500)
    decoded.foreach { d =>
      if (d.media_id % 2 == 0) {
        assert(d.kind == "bmp" && d.n_frames == 1, s"media ${d.media_id}")
        val w = 4 + (d.media_id % 13).toInt; val h = 3 + (d.media_id % 7).toInt
        assert(d.width == w && d.height == h)
        assert(d.payload_bytes == ((w * 3 + 3) & ~3).toLong * h)
      } else {
        assert(d.kind == "wav" && d.channels == 1 + ((d.media_id / 2) % 2).toInt)
        assert(d.sample_rate == 8000 + (d.media_id % 3).toInt * 4000)
        assert(d.payload_bytes == d.n_frames.toLong * d.channels * 2)
      }
    }
    // garbage is dropped by the sniffer, not thrown
    val junk = spark.createDataset(Seq(Media(1L, Array[Byte](9, 9, 9))))
    assert(decodeRealMeta(junk).collect().isEmpty)
  }

  test("real BMP container round-trips through a distributed decode") {
    import spark.implicits._
    val media = (1L to 40L).map { id =>
      val w = 4 + (id % 8).toInt; val h = 3 + (id % 5).toInt
      (id, MultimodalOps.encodeBmp(w, h, Array.fill(((w * 3 + 3) & ~3) * h)(id.toByte)))
    }.toDS()
    val decoded = media.mapPartitions(_.flatMap { case (id, bytes) =>
      MultimodalOps.decodeBmpMeta(bytes).map(m => (id, m.width, m.height, m.bpp))
    }).collect().sortBy(_._1)
    assert(decoded.length == 40)
    decoded.foreach { case (id, w, h, bpp) =>
      assert(w == 4 + (id % 8).toInt && h == 3 + (id % 5).toInt && bpp == 24, s"media $id")
    }
    // a real parser would reject garbage the same way
    assert(MultimodalOps.decodeBmpMeta("not a bmp".getBytes).isEmpty)
  }

  test("real WAV container round-trips through a distributed decode") {
    import spark.implicits._
    val media = (1L to 40L).map { id =>
      val rate = 8000 * (1 + (id % 3).toInt); val ch = 1 + (id % 2).toInt
      val frames = 100 + (id % 50).toInt
      (id, MultimodalOps.encodeWavPcm16(rate, ch, new Array[Byte](frames * ch * 2)))
    }.toDS()
    val decoded = media.mapPartitions(_.flatMap { case (id, bytes) =>
      MultimodalOps.decodeWavMeta(bytes).map(m => (id, m.sample_rate, m.channels, m.bits, m.n_frames))
    }).collect().sortBy(_._1)
    assert(decoded.length == 40)
    decoded.foreach { case (id, rate, ch, bits, frames) =>
      assert(rate == 8000 * (1 + (id % 3).toInt) && ch == 1 + (id % 2).toInt, s"media $id")
      assert(bits == 16 && frames == 100 + (id % 50).toInt, s"media $id")
    }
    assert(MultimodalOps.decodeWavMeta(new Array[Byte](10)).isEmpty)
  }

  test("dHashBands reads the real header: gradient bits match hand math") {
    // 9x1 image, luma strictly increasing left to right: every horizontal
    // comparison lum(x) < lum(x+1) is true on the only sampled row, so all
    // 64 bits set -> every band = 0xFFFF
    val inc = new Array[Byte](27)
    (0 until 9).foreach(x => (0 until 3).foreach(k => inc(x * 3 + k) = (x * 20).toByte))
    val bandsInc = MultimodalOps.dHashBands(MultimodalOps.encodeBmp(9, 1, inc)).get
    assert(bandsInc.toSeq === Seq(0xFFFF, 0xFFFF, 0xFFFF, 0xFFFF))
    // flat image: no gradient anywhere -> all bits clear
    val flat = Array.fill[Byte](27)(100.toByte)
    val bandsFlat = MultimodalOps.dHashBands(MultimodalOps.encodeBmp(9, 1, flat)).get
    assert(bandsFlat.toSeq === Seq(0, 0, 0, 0))
    // non-BMP bytes drop
    assert(MultimodalOps.dHashBands("RIFFnotabmp".getBytes("US-ASCII")).isEmpty)
  }

  test("dHashBands drops a hostile-width BMP header instead of crashing") {
    // valid magic + bpp 24, but width = 0x40000000: (width*3+3)&~3
    // overflows a 32-bit stride negative — the guard must DROP the row
    // (tolerant-reader contract), not throw from negative array indexing
    val evil = MultimodalOps.encodeBmp(4, 2, new Array[Byte](24))
    def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    putIntLE(evil, 18, 0x40000000) // width field
    assert(MultimodalOps.dHashBands(evil).isEmpty)
    // truncated honest header (claims more pixel bytes than present) drops
    val whole = MultimodalOps.encodeBmp(9, 4, new Array[Byte](120))
    val truncated = java.util.Arrays.copyOfRange(whole, 0, whole.length - 20)
    assert(MultimodalOps.dHashBands(truncated).isEmpty)
  }

  test("dHashBands is stable under a small edit, far for distinct content") {
    def hash(px: Array[Byte]) =
      MultimodalOps.dHashBands(MultimodalOps.encodeBmp(12, 8, px)).get
    def ham(a: Array[Int], b: Array[Int]) =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    val rnd = new scala.util.Random(5)
    val base = Array.fill[Byte](12 * 8 * 3 + 8 * 4)(0)
    rnd.nextBytes(base)
    val edited = base.clone(); edited(40) = (edited(40) + 7).toByte
    val other = new Array[Byte](base.length); rnd.nextBytes(other)
    assert(ham(hash(base), hash(base.clone())) === 0)
    assert(ham(hash(base), hash(edited)) <= 4, "one-byte edit moves few bits")
    assert(ham(hash(base), hash(other)) > 12, "distinct content is far")
  }

  test("envFingerprint reads the real WAV header: envelope bits match hand math") {
    // 66 mono samples, |amplitude| strictly increasing per window -> every
    // env(w) < env(w+1) true -> all 32 bits set -> 4x 0xFF bands
    val inc = new Array[Byte](66 * 2)
    (0 until 66).foreach { i =>
      val v = i * 100
      inc(2 * i) = (v & 0xff).toByte; inc(2 * i + 1) = (v >> 8).toByte
    }
    val up = MultimodalOps.envFingerprint(
      MultimodalOps.encodeWavPcm16(8000, 1, inc)).get
    assert(up.toSeq === Seq(0xFF, 0xFF, 0xFF, 0xFF))
    // constant amplitude: no gradient -> all clear
    val flat = new Array[Byte](66 * 2)
    (0 until 66).foreach { i => flat(2 * i) = 100.toByte; flat(2 * i + 1) = 0 }
    assert(MultimodalOps.envFingerprint(
      MultimodalOps.encodeWavPcm16(8000, 1, flat)).get.toSeq === Seq(0, 0, 0, 0))
    // negative samples count by magnitude: -v and +v give the same envelope
    val neg = inc.clone()
    (0 until 66).foreach { i =>
      val v = -(i * 100)
      neg(2 * i) = (v & 0xff).toByte; neg(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    assert(MultimodalOps.envFingerprint(
      MultimodalOps.encodeWavPcm16(8000, 1, neg)).get.toSeq === up.toSeq)
    // too short for 33 windows drops; non-WAV drops
    assert(MultimodalOps.envFingerprint(
      MultimodalOps.encodeWavPcm16(8000, 1, new Array[Byte](32 * 2))).isEmpty)
    assert(MultimodalOps.envFingerprint("BMnotawav".getBytes("US-ASCII")).isEmpty)
    // truncated read: the header still claims 100 stereo frames, the bytes
    // end 40 short. q99's guard drops it; without the guard the envelope
    // loop reads past the array
    val whole = MultimodalOps.encodeWavPcm16(1000, 2, new Array[Byte](100 * 4))
    val truncated = java.util.Arrays.copyOfRange(whole, 0, whole.length - 40)
    assert(MultimodalOps.envFingerprint(whole).isDefined)
    assert(MultimodalOps.envFingerprint(truncated).isEmpty)
  }

  test("q99 family and near censuses are internally consistent on sf0.001") {
    val out = MultimodalOps.q99AudioFingerprint(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(1)).foreach { case (ph, rows) =>
      assert(rows.forall(_.getLong(2) == rows.length), s"n_exact wrong for $ph")
      assert(rows.count(_.getBoolean(3)) === 1, s"one canonical per family $ph")
    }
    val near = out.filter(_.getLong(4) > 0)
    assert(near.nonEmpty, "near-dup strata should surface near audio")
    val n = out.map(r => r.getLong(0) -> r.getLong(4)).toMap
    near.foreach(r => assert(!r.isNullAt(5) && n(r.getLong(5)) > 0))
  }

  test("q98 family and near censuses are internally consistent on sf0.001") {
    val out = MultimodalOps.q98ImagePhash(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val byHash = out.groupBy(_.getString(1))
    byHash.foreach { case (ph, rows) =>
      assert(rows.forall(_.getLong(2) == rows.length), s"n_exact wrong for $ph")
      assert(rows.count(_.getBoolean(3)) === 1, s"one canonical per family $ph")
      assert(rows.filter(_.getBoolean(3)).head.getLong(0) ===
        rows.map(_.getLong(0)).min)
    }
    // near census symmetry: if a lists b as min partner, b has >= 1 partner
    val near = out.filter(_.getLong(4) > 0)
    assert(near.nonEmpty, "corpus near-dup strata should surface near images")
    val n = out.map(r => r.getLong(0) -> r.getLong(4)).toMap
    near.foreach { r =>
      assert(!r.isNullAt(5) && n(r.getLong(5)) > 0,
        s"partner of ${r.getLong(0)} must also count a partner")
    }
  }

  test("videoFingerprint reads the stub header: gradient bits match hand math") {
    // id=2 -> kind vide, frames=3; payload 51 bytes -> per=17, so every
    // envelope window is ONE byte and the gradient is hand-readable:
    // frame0 ascending -> all 16 bits set; frame2 descending -> none.
    val payload = new Array[Byte](51)
    for (i <- 0 until 17) payload(i) = i.toByte               // frame 0
    for (i <- 0 until 17) payload(34 + i) = (16 - i).toByte   // frame 2
    val bs = MultimodalOps.videoFingerprint(MultimodalOps.encodeFake(2L, payload))
    assert(bs.isDefined)
    assert(bs.get.toSeq === Seq(255, 255, 0, 0))
    // frame 1 is NOT sampled: editing it must not move the fingerprint
    val edited = payload.clone(); edited(20) = 99
    assert(MultimodalOps.videoFingerprint(MultimodalOps.encodeFake(2L, edited))
      .get.toSeq === Seq(255, 255, 0, 0))
  }

  test("videoFingerprint preconditions drop, never throw") {
    val p = new Array[Byte](51)
    // kind audi (id%3==1)
    assert(MultimodalOps.videoFingerprint(MultimodalOps.encodeFake(1L, p)).isEmpty)
    // frames = 1 + 11%10 = 2 < 3 (and 11%3 == 2 so kind IS vide)
    assert(MultimodalOps.videoFingerprint(MultimodalOps.encodeFake(11L, p)).isEmpty)
    // per = 50/3 = 16 < 17 windows
    assert(MultimodalOps.videoFingerprint(
      MultimodalOps.encodeFake(2L, new Array[Byte](50))).isEmpty)
    // malformed container
    assert(MultimodalOps.videoFingerprint("nope".getBytes("US-ASCII")).isEmpty)
  }

  test("q103 family and near censuses are internally consistent on sf0.001") {
    val out = MultimodalOps.q103VideoFingerprint(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(1)).foreach { case (ph, rows) =>
      assert(rows.forall(_.getLong(2) == rows.length), s"n_exact wrong for $ph")
      assert(rows.count(_.getBoolean(3)) === 1, s"one canonical per family $ph")
    }
    val n = out.map(r => r.getLong(0) -> r.getLong(4)).toMap
    out.filter(_.getLong(4) > 0).foreach(r =>
      assert(!r.isNullAt(5) && n(r.getLong(5)) > 0))
  }

  test("fingerprintCensus skips hot band buckets but keeps cold-band pairs") {
    import spark.implicits._
    // degenerate family: 50 identical fingerprints — every band bucket
    // holds 50 rows, beyond the test cap of 10, so candidate generation
    // must SKIP them (the all-identical-assets corpus that would explode
    // the self-join quadratically; VERDICT r9 #5). Plus one near pair on
    // cold bands that must still be found.
    val degenerate = (1L to 50L).map(i => (i, "deg", 7, 7, 7, 7))
    val nearPair = Seq((100L, "a", 1, 2, 3, 4), (101L, "b", 1, 2, 3, 5))
    val hashed = (degenerate ++ nearPair)
      .toDF("doc_id", "phash", "b0", "b1", "b2", "b3")
    val out = MultimodalOps.fingerprintCensus(hashed, hamT = 8, hotBandCap = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    // exact census unaffected by the cap: the family still reports fully
    assert((1L to 50L).forall(i => out(i)._1 == 50L))
    // near census: hot buckets generated no candidates
    assert((1L to 50L).forall(i => out(i)._2 == 0L))
    // the cold pair still surfaces (shared cold bands, hamming 1)
    assert(out(100L) === ((1L, 1L, 101L)))
    assert(out(101L) === ((1L, 1L, 100L)))
    // with the production cap the same frame reports the degenerate
    // family as near partners again (cap semantics, not a recall bug)
    val full = MultimodalOps.fingerprintCensus(hashed, hamT = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert((1L to 50L).forall(i => full(i) == 49L))
  }

  test("PNG round-trip is lossless through all five row filters") {
    // heights ≥ 5 cycle every RFC 2083 filter type (encode uses y % 5);
    // random pixel content stresses Sub/Average/Paeth carry arithmetic
    val rnd = new scala.util.Random(17)
    for ((w, h) <- Seq((1, 1), (4, 5), (9, 8), (16, 7), (5, 12))) {
      val px = new Array[Byte](w * h * 3)
      rnd.nextBytes(px)
      val img = MultimodalOps.decodePngPixels(MultimodalOps.encodePng(w, h, px)).get
      assert(img.width == w && img.height == h)
      assert(img.rgb.toSeq == px.toSeq, s"pixels must round-trip at ${w}x$h")
    }
    // short payload zero-pads, long payload truncates (the encodeBmp contract)
    val short = MultimodalOps.decodePngPixels(
      MultimodalOps.encodePng(4, 5, Array[Byte](1, 2, 3))).get
    assert(short.rgb.take(3).toSeq == Seq[Byte](1, 2, 3) &&
      short.rgb.drop(3).forall(_ == 0))
  }

  test("decodePngPixels: hand-math defilter of a 1x2 Up-filtered image") {
    // encode puts filter 0 on row 0 and filter 1 (Sub) on row 1 for h=2;
    // verify the recon arithmetic byte by byte against RFC 2083 §6.3/6.4:
    // row0 raw = pixels; row1 Sub with bpp=3 means first 3 bytes have
    // left=0 (stored raw), so recon(row1) = stored + recon(left-of-3-back)
    val px = Array[Byte](10, 20, 30, 50, 60, 70) // 1x2 RGB
    val png = MultimodalOps.encodePng(1, 2, px)
    val img = MultimodalOps.decodePngPixels(png).get
    assert(img.rgb.toSeq == px.toSeq)
    // and the dHash over a tiny PNG: 9x1 increasing luma -> all bits set,
    // flat -> none (the dHashBands hand-math pin, through the PNG path)
    val inc = new Array[Byte](27)
    (0 until 9).foreach(x => (0 until 3).foreach(k => inc(x * 3 + k) = (x * 20).toByte))
    assert(MultimodalOps.dHashBandsPng(MultimodalOps.encodePng(9, 1, inc)).get.toSeq
      === Seq(0xFFFF, 0xFFFF, 0xFFFF, 0xFFFF))
    assert(MultimodalOps.dHashBandsPng(
      MultimodalOps.encodePng(9, 1, Array.fill[Byte](27)(100.toByte))).get.toSeq
      === Seq(0, 0, 0, 0))
  }

  test("decodePngPixels drops malformed assets instead of throwing") {
    val good = MultimodalOps.encodePng(6, 6, Array.fill[Byte](108)(42))
    assert(MultimodalOps.decodePngPixels(good).isDefined)
    // flipped bit inside IDAT -> CRC mismatch -> drop
    val flipped = good.clone()
    flipped(good.length - 20) = (flipped(good.length - 20) ^ 0x10).toByte
    assert(MultimodalOps.decodePngPixels(flipped).isEmpty)
    // truncated file (IEND gone) -> drop
    assert(MultimodalOps.decodePngPixels(
      java.util.Arrays.copyOfRange(good, 0, good.length - 12)).isEmpty)
    // wrong magic (a BMP) -> drop
    assert(MultimodalOps.decodePngPixels(
      MultimodalOps.encodeBmp(4, 4, new Array[Byte](48))).isEmpty)
    // out-of-scope IHDR (16-bit depth) -> drop: rewrite depth + fix CRC
    val deep = good.clone()
    deep(8 + 8 + 8) = 16 // IHDR data byte 8 (bit depth)
    val crc = new java.util.zip.CRC32
    crc.update(deep, 8 + 4, 4 + 13)
    val c = crc.getValue.toInt
    deep(8 + 8 + 13) = (c >>> 24).toByte; deep(8 + 8 + 14) = (c >>> 16).toByte
    deep(8 + 8 + 15) = (c >>> 8).toByte; deep(8 + 8 + 16) = c.toByte
    assert(MultimodalOps.decodePngPixels(deep).isEmpty)
    // hostile IHDR dims (would allocate GBs) -> drop before allocating
    assert(MultimodalOps.decodePngPixels(
      MultimodalOps.encodePng(1, 1, new Array[Byte](3))).isDefined)
    // FDICT hang (review r15): a CRC-valid PNG whose zlib header demands
    // a preset dictionary makes Inflater return 0 with needsInput()==false
    // and finished()==false forever — the decoder must DROP, not spin.
    // CMF=0x78, FLG=0x20 (FDICT set; (0x7820) % 31 == 0 so the header
    // checksum is valid), then a fake 4-byte dictionary Adler32.
    locally {
      val ihdr = java.util.Arrays.copyOfRange(good, 8, 8 + 25)
      val idatData = Array[Byte](0x78, 0x20, 0, 0, 0, 1)
      val out = new java.io.ByteArrayOutputStream()
      out.write(good, 0, 8) // signature
      out.write(ihdr)
      def be(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(be(idatData.length))
      out.write("IDAT".getBytes("US-ASCII"))
      out.write(idatData)
      val crc = new java.util.zip.CRC32
      crc.update("IDAT".getBytes("US-ASCII")); crc.update(idatData)
      out.write(be(crc.getValue.toInt))
      out.write(good, good.length - 12, 12) // IEND chunk
      val t0 = System.nanoTime()
      assert(MultimodalOps.decodePngPixels(out.toByteArray).isEmpty)
      assert((System.nanoTime() - t0) / 1e9 < 5, "must drop, not spin")
    }
    // fuzz: arbitrary bytes never throw
    val rnd = new scala.util.Random(23)
    (0 until 200).foreach { _ =>
      val junk = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(junk)
      if (junk.length >= 8) System.arraycopy(
        Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a), 0,
        junk, 0, math.min(8, junk.length))
      MultimodalOps.decodePngPixels(junk) // must not throw
    }
  }

  test("decodeRealMeta sniffs BMP/WAV/PNG; junk and a CRC-flipped PNG drop") {
    import spark.implicits._
    // meta parse never inflates but still verifies structure: a flipped
    // IDAT bit fails the CRC and drops
    val png = MultimodalOps.encodePng(5, 4, new Array[Byte](60))
    val bad = png.clone(); bad(png.length - 20) = (bad(png.length - 20) ^ 1).toByte
    assert(MultimodalOps.decodePngMeta(bad).isEmpty)
    assert(MultimodalOps.decodePngMeta(png).exists(m => m.idat_bytes > 0))
    val mixed = Seq(
      MultimodalOps.Media(10L, MultimodalOps.encodeBmp(4, 3, new Array[Byte](48))),
      MultimodalOps.Media(11L, MultimodalOps.encodeWavPcm16(8000, 1, new Array[Byte](80))),
      MultimodalOps.Media(12L, png),
      MultimodalOps.Media(13L, "GRFTnope".getBytes),
      MultimodalOps.Media(14L, bad)).toDS()
    val metas = MultimodalOps.decodeRealMeta(mixed).collect()
      .map(d => d.media_id -> (d.kind, d.width, d.height)).toMap
    assert(metas.keySet == Set(10L, 11L, 12L))
    assert(metas(12L) == (("png", 5, 4)))
  }

  test("q126 family and near censuses are internally consistent on sf0.001") {
    val out = MultimodalOps.q126PngPhash(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // exact families: n_exact == multiplicity of the phash; one canonical
    val byHash = out.groupBy(_.getString(1))
    byHash.foreach { case (_, rows) =>
      assert(rows.forall(_.getLong(2) == rows.length))
      assert(rows.count(_.getBoolean(3)) == 1)
    }
    // near partners are symmetric counts (sum is even)
    assert(out.map(_.getLong(4)).sum % 2 == 0)
  }
}
