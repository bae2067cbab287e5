package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.sources.Tables

/** Contract tests for the multimodal plumbing: schema, decode math,
  * determinism, and partition preservation. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media schema: binary content + typed metadata") {
    val media = Multimodal.asMedia(Tables(spark, sfDir).documents, "doc_id", "text")
    val f = media.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(f("content") == "binary")
    assert(f("doc_id") == "bigint" && f("width") == "int" && f("height") == "int")
  }

  test("opaque-payload features match a hand computation and featurize carries them through") {
    val bytes = "abcz".getBytes("UTF-8") // 97 98 99 122
    val (mean, std, feat) = Multimodal.opaqueFeatures(bytes)
    assert(mean == (97 + 98 + 99 + 122) / 4.0)
    val m = (97 + 98 + 99 + 122) / 4.0
    val v = (97.0 * 97 + 98 * 98 + 99 * 99 + 122.0 * 122) / 4.0 - m * m
    assert(math.abs(std - math.sqrt(v)) < 1e-12)
    assert(feat(3) == 1.0f && feat(2) == 0.0f) // all four bytes in bucket 96..127
    val row = Multimodal.featurize(
        Multimodal.asMedia(Seq((1L, "abcz")).toDF("doc_id", "text"), "doc_id", "text"))
      .collect().head
    assert(row.mean_byte == mean && row.n_bytes == 4L)
  }

  test("featurization is deterministic and row-preserving") {
    val media = Multimodal.asMedia(Tables(spark, sfDir).documents, "doc_id", "text")
    val a = Multimodal.featurize(media).select("doc_id", "mean_byte")
      .as[(Long, Double)].collect().sorted.toSeq
    val b = Multimodal.featurize(media).select("doc_id", "mean_byte")
      .as[(Long, Double)].collect().sorted.toSeq
    assert(a == b)
    assert(a.size == media.count())
  }

  test("featurize is a narrow dependency (no shuffle in the plan)") {
    val media = Multimodal.asMedia(Tables(spark, sfDir).documents, "doc_id", "text")
      .repartition(3)
    val plan = Multimodal.featurize(media).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"featurize introduced a shuffle:\n$plan")
  }

  test("BMP decode is real: a hand-built 2x2 image yields its known dims, pixels, and means") {
    import graft.operators.ImageCodec
    // 2x2 24bpp BMP, hand-assembled byte-for-byte (bottom-up, BGR,
    // rows 2*3=6 bytes padded to 8): top row (255,0,0) (0,255,0),
    // bottom row (0,0,255) (10,20,30)
    val hand = Array[Int](
      'B', 'M', 70, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0, // file header
      40, 0, 0, 0, 2, 0, 0, 0, 2, 0, 0, 0, 1, 0, 24, 0, // info header
      0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0,
      255, 0, 0, 30, 20, 10, 0, 0, // bottom image row first: BGR of (0,0,255), (10,20,30), 2 pad
      0, 0, 255, 0, 255, 0, 0, 0   // top image row: BGR of (255,0,0), (0,255,0), 2 pad
    ).map(_.toByte)
    val img = ImageCodec.decode(hand).get
    assert(img.format == "image/bmp" && img.width == 2 && img.height == 2)
    // top-down RGB: row0 = (255,0,0),(0,255,0); row1 = (0,0,255),(10,20,30)
    assert(img.pixels.toSeq == Seq(
      255, 0, 0, 0, 255, 0,
      0, 0, 255, 10, 20, 30))
    // encoder round-trips to the SAME bytes (pins padding + BGR order)
    assert(ImageCodec.encodeBmp(2, 2, img.pixels).toSeq == hand.toSeq)
    // featurize must use the DECODED header + pixels, not the declared
    // metadata or raw file bytes
    val media = Seq((7L, hand, "declared/wrong", 99, 99))
      .toDF("doc_id", "content", "format", "width", "height")
    val row = Multimodal.featurize(media).collect().head
    assert(row.format == "image/bmp" && row.width == 2 && row.height == 2)
    assert(row.n_bytes == 70L)
    val want = (255 + 0 + 0 + 0 + 255 + 0 + 0 + 0 + 255 + 10 + 20 + 30) / 12.0
    assert(math.abs(row.mean_byte - want) < 1e-12,
      s"mean over decoded channels: got ${row.mean_byte}, want $want")
  }

  test("a corrupt/hostile container degrades to opaque features instead of killing the job") {
    import graft.operators.ImageCodec
    // 'BM' magic + absurd header fields that used to overflow Int in
    // the size math and crash with a negative array index
    val hostile = new Array[Byte](60)
    hostile(0) = 'B'; hostile(1) = 'M'
    val bb = java.nio.ByteBuffer.wrap(hostile)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(10); bb.putInt(54)        // dataOffset
    bb.position(14); bb.putInt(40)        // header size
    bb.putInt(1048576).putInt(1048576)    // width, height = 2^20
    bb.putShort(1).putShort(24); bb.putInt(0)
    // direct decode: a loud require, not an allocation/index crash
    val e = intercept[IllegalArgumentException] { ImageCodec.decode(hostile) }
    assert(e.getMessage.contains("implausible"), e.getMessage)
    // through featurize: the row degrades to the opaque branch
    val media = Seq((3L, hostile, "declared/fmt", 9, 9))
      .toDF("doc_id", "content", "format", "width", "height")
    val row = Multimodal.featurize(media).collect().head
    assert(row.format == "declared/fmt" && row.width == 9 && row.n_bytes == 60L)
  }

  test("PNG decode is real: every scanline filter unfilters to the planted pixels") {
    import graft.operators.ImageCodec
    // 3x5 RGB with a different filter per row (None/Sub/Up/Average/
    // Paeth): a decoder that misreads ANY filter cannot reproduce px
    val w = 3; val h = 5; val ch = 3
    val px = Array.tabulate(w * h * ch)(i => (i * 37 + 11) % 256)
    for (chN <- Seq(1, 3, 4)) {
      val p2 = Array.tabulate(w * h * chN)(i => (i * 37 + 11) % 256)
      val bytes = ImageCodec.encodePng(w, h, chN, p2, y => y % 5)
      val img = ImageCodec.decode(bytes).get
      assert(img.format == "image/png" && img.width == w && img.height == h
        && img.channels == chN)
      assert(img.pixels.toSeq == p2.toSeq, s"channels=$chN")
    }
    // featurize uses the decoded header + pixels
    val bytes = ImageCodec.encodePng(w, h, ch, px, y => y % 5)
    val media = Seq((7L, bytes, "declared/wrong", 99, 99))
      .toDF("doc_id", "content", "format", "width", "height")
    val row = Multimodal.featurize(media).collect().head
    assert(row.format == "image/png" && row.width == 3 && row.height == 5)
    val want = px.sum / px.length.toDouble
    assert(math.abs(row.mean_byte - want) < 1e-12)
  }

  test("PNG hostile containers refuse loudly and degrade to opaque through featurize") {
    import graft.operators.ImageCodec
    val good = ImageCodec.encodePng(2, 2, 3,
      Array.tabulate(12)(i => i * 20), _ => 0)
    // a flipped IDAT byte fails the chunk CRC
    val bad = good.clone()
    bad(good.length - 15) = (bad(good.length - 15) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException] { ImageCodec.decode(bad) }
    assert(e1.getMessage.contains("CRC"), e1.getMessage)
    // an interlace flag over a NON-interlaced stream is a scanline
    // volume mismatch — refused loudly
    val il = good.clone()
    il(8 + 8 + 12) = 1 // IHDR interlace byte
    // fix the IHDR CRC so the mismatch check itself is reached
    val ihdrData = il.slice(16, 29)
    val crc = { val c = new java.util.zip.CRC32()
      c.update("IHDR".getBytes); c.update(ihdrData); c.getValue.toInt }
    java.nio.ByteBuffer.wrap(il).putInt(29, crc)
    val e2 = intercept[IllegalArgumentException] { ImageCodec.decode(il) }
    assert(e2.getMessage.contains("decompresses"), e2.getMessage)
    // absurd dimensions refuse before allocation
    val big = good.clone()
    java.nio.ByteBuffer.wrap(big).putInt(16, 1 << 20).putInt(20, 1 << 20)
    val bigData = big.slice(16, 29)
    val crc2 = { val c = new java.util.zip.CRC32()
      c.update("IHDR".getBytes); c.update(bigData); c.getValue.toInt }
    java.nio.ByteBuffer.wrap(big).putInt(29, crc2)
    val e3 = intercept[IllegalArgumentException] { ImageCodec.decode(big) }
    assert(e3.getMessage.contains("implausible"), e3.getMessage)
    // valid chunk CRCs over NON-zlib IDAT bytes: Inflater's
    // DataFormatException must surface as the IllegalArgumentException
    // the featurizer's net catches, not kill the job (r17 review)
    val garbage = ImageCodec.encodePng(2, 2, 3,
      Array.tabulate(12)(i => i * 20), _ => 0)
    // locate the IDAT chunk (after the 33-byte sig+IHDR) and trash its
    // data, then recompute the CRC so the corruption survives it
    val dataLen = java.nio.ByteBuffer.wrap(garbage).getInt(33)
    for (i <- 0 until dataLen) garbage(41 + i) = (0x55 + i).toByte
    val crc3 = { val c = new java.util.zip.CRC32()
      c.update(garbage, 37, 4 + dataLen); c.getValue.toInt }
    java.nio.ByteBuffer.wrap(garbage).putInt(41 + dataLen, crc3)
    val e4 = intercept[IllegalArgumentException] { ImageCodec.decode(garbage) }
    assert(e4.getMessage.contains("IDAT"), e4.getMessage)
    // through featurize every one of them degrades to the opaque branch
    val media = Seq((1L, bad), (2L, il), (3L, big), (4L, garbage))
      .toDF("doc_id", "content")
      .selectExpr("doc_id", "content", "'d' AS format",
        "9 AS width", "9 AS height")
    val rows = Multimodal.featurize(media).collect()
    assert(rows.forall(r => r.format == "d" && r.width == 9), rows.toSeq)
  }

  test("PNG Adam7 interlace and palette images decode: the remaining real web forms") {
    import graft.operators.ImageCodec
    // Adam7: same pixels through interlaced and plain encodes must
    // decode identically, across channel counts and dims that leave
    // several passes empty (w or h < 5) — with varied filters per row
    for ((w, h) <- Seq((3, 2), (9, 7), (16, 16)); ch <- Seq(1, 3, 4)) {
      val px = Array.tabulate(w * h * ch)(i => (i * 41 + 13) % 256)
      val plain = ImageCodec.decode(
        ImageCodec.encodePng(w, h, ch, px, y => y % 5)).get
      val inter = ImageCodec.decode(
        ImageCodec.encodePng(w, h, ch, px, y => (y + 1) % 5,
          interlaced = true)).get
      assert(plain.pixels.toSeq == px.toSeq, s"$w x $h ch=$ch plain")
      assert(inter.pixels.toSeq == px.toSeq, s"$w x $h ch=$ch interlaced")
      // the JDK's ImageIO agrees on our interlaced bytes (lossless)
      if (ch == 3) {
        val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
          ImageCodec.encodePng(w, h, ch, px, _ => 4, interlaced = true)))
        for (y <- 0 until h; x <- 0 until w) {
          val base = (y * w + x) * 3
          val want = 0xff000000 | (px(base) << 16) |
            (px(base + 1) << 8) | px(base + 2)
          assert(bi.getRGB(x, y) == want, s"ImageIO at ($x,$y) $w x $h")
        }
      }
    }
    // palette (color type 3): indices map through PLTE; tRNS adds
    // per-entry alpha; interlace composes with palette
    val w = 7; val h = 5
    val palette = Array.tabulate(8 * 3)(i => (i * 23 + 9) % 256)
    val idx = Array.tabulate(w * h)(p => (p * 3 + 1) % 8)
    for (inter <- Seq(false, true)) {
      val img = ImageCodec.decode(ImageCodec.encodePngIndexed(
        w, h, palette, idx, y => y % 5, interlaced = inter)).get
      assert(img.channels == 3, s"interlaced=$inter")
      val want = idx.flatMap(j =>
        Seq(palette(j * 3), palette(j * 3 + 1), palette(j * 3 + 2)))
      assert(img.pixels.toSeq == want.toSeq, s"palette interlaced=$inter")
    }
    val trns = Array(255, 128, 0, 255, 255, 255, 255, 255)
    val ia = ImageCodec.decode(ImageCodec.encodePngIndexed(
      w, h, palette, idx, trns = trns)).get
    assert(ia.channels == 4)
    for (p <- 0 until w * h) {
      val j = idx(p)
      assert(ia.pixels(p * 4 + 3) == trns(j), s"alpha at $p")
      assert(ia.pixels(p * 4) == palette(j * 3), s"R at $p")
    }
    // a palette PNG written by the JDK's ImageIO reads back exactly
    import java.awt.image.{BufferedImage, IndexColorModel}
    val r = new Array[Byte](8); val g = new Array[Byte](8)
    val b = new Array[Byte](8)
    for (j <- 0 until 8) {
      r(j) = palette(j * 3).toByte; g(j) = palette(j * 3 + 1).toByte
      b(j) = palette(j * 3 + 2).toByte
    }
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED,
      new IndexColorModel(3, 8, r, g, b))
    for (y <- 0 until h; x <- 0 until w) {
      val j = idx(y * w + x)
      bi.setRGB(x, y, 0xff000000 | (palette(j * 3) << 16) |
        (palette(j * 3 + 1) << 8) | palette(j * 3 + 2))
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", baos))
    val foreign = ImageCodec.decode(baos.toByteArray).get
    assert(foreign.width == w && foreign.height == h)
    // ImageIO may write palette OR expand; compare as RGB triples
    val fr = foreign.channels match {
      case 3 => foreign.pixels.toSeq
      case 4 => foreign.pixels.grouped(4).flatMap(_.take(3)).toSeq
      case _ => fail(s"unexpected channels ${foreign.channels}")
    }
    val want = idx.flatMap(j =>
      Seq(palette(j * 3), palette(j * 3 + 1), palette(j * 3 + 2))).toSeq
    assert(fr == want, "foreign palette PNG")
  }

  test("PNG bit depths decode: 16-bit high bytes, 1/2/4-bit unpack and scale") {
    import graft.operators.ImageCodec
    import java.awt.image.{BufferedImage, IndexColorModel}
    val w = 9; val h = 5
    // 16-bit gray via the JDK's writer: our decode keeps the high
    // byte (the farbfeld convention) — compare to ImageIO's samples
    val g16 = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      g16.getRaster.setSample(x, y, 0, ((x * 37 + y * 91) * 257) % 65536)
    val b16 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(g16, "png", b16))
    val d16 = ImageCodec.decode(b16.toByteArray).get
    assert(d16.width == w && d16.height == h && d16.channels == 1)
    for (y <- 0 until h; x <- 0 until w)
      assert(d16.pixels(y * w + x) ==
        (g16.getRaster.getSample(x, y, 0) >>> 8), s"16-bit at ($x,$y)")
    // 16-bit RGB, hand-assembled (filter 0, big-endian samples):
    // 2x1 with pixel0 = (0xff00, 0x0102, 0x8000), pixel1 = (0x1234,
    // 0xffff, 0x0001) — high bytes (255,1,128) and (18,255,0)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val c = new java.util.zip.CRC32()
      c.update(typ.getBytes); c.update(data)
      java.nio.ByteBuffer.allocate(8 + data.length + 4)
        .putInt(data.length).put(typ.getBytes).put(data)
        .putInt(c.getValue.toInt).array()
    }
    val ihdr16 = java.nio.ByteBuffer.allocate(13).putInt(2).putInt(1)
      .put(16.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    val scan = Array[Int](0, // filter byte
      0xff, 0x00, 0x01, 0x02, 0x80, 0x00,
      0x12, 0x34, 0xff, 0xff, 0x00, 0x01).map(_.toByte)
    val defl = { val d = new java.util.zip.Deflater(); d.setInput(scan)
      d.finish(); val o = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
      d.end(); o.toByteArray }
    val magic = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    val rgb16 = magic ++ chunk("IHDR", ihdr16) ++ chunk("IDAT", defl) ++
      chunk("IEND", Array.emptyByteArray)
    val dr = ImageCodec.decode(rgb16).get
    assert(dr.width == 2 && dr.channels == 3)
    assert(dr.pixels.toSeq == Seq(255, 1, 128, 18, 255, 0))
    // 1/2/4-bit palette via the JDK's indexed writer
    for (bits <- Seq(1, 2, 4)) {
      val nc = 1 << bits
      val r = Array.tabulate(nc)(j => ((j * 97 + 11) % 256).toByte)
      val g = Array.tabulate(nc)(j => ((j * 53 + 7) % 256).toByte)
      val b = Array.tabulate(nc)(j => ((j * 31 + 3) % 256).toByte)
      val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_BINARY,
        new IndexColorModel(bits, nc, r, g, b))
      for (y <- 0 until h; x <- 0 until w) {
        val j = (x + y * 3) % nc
        bi.setRGB(x, y, 0xff000000 | ((r(j) & 0xff) << 16) |
          ((g(j) & 0xff) << 8) | (b(j) & 0xff))
      }
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, "png", baos))
      val img = ImageCodec.decode(baos.toByteArray).get
      assert(img.width == w && img.height == h, s"$bits-bit")
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(baos.toByteArray))
      for (y <- 0 until h; x <- 0 until w) {
        val want = ref.getRGB(x, y)
        val base = (y * w + x) * img.channels
        val got = 0xff000000 | (img.pixels(base) << 16) |
          (img.pixels(base + 1) << 8) | img.pixels(base + 2)
        assert(got == want, s"$bits-bit palette at ($x,$y)")
      }
    }
    // 1-bit GRAY (no palette): hand-built 9x1, bits 101101011 -> the
    // spec scaling maps 1 to 255
    val ihdr1 = java.nio.ByteBuffer.allocate(13).putInt(9).putInt(1)
      .put(1.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    val scan1 = Array[Int](0, 0xb5, 0x80).map(_.toByte) // 10110101 1
    val defl1 = { val d = new java.util.zip.Deflater(); d.setInput(scan1)
      d.finish(); val o = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
      d.end(); o.toByteArray }
    val g1 = magic ++ chunk("IHDR", ihdr1) ++ chunk("IDAT", defl1) ++
      chunk("IEND", Array.emptyByteArray)
    val d1 = ImageCodec.decode(g1).get
    assert(d1.width == 9 && d1.channels == 1)
    assert(d1.pixels.toSeq ==
      Seq(255, 0, 255, 255, 0, 255, 0, 255, 255), d1.pixels.toSeq)
    // an illegal depth/type combination refuses by the spec table
    val badIhdr = java.nio.ByteBuffer.allocate(13).putInt(2).putInt(1)
      .put(4.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array() // 4-bit truecolor: illegal
    val bad = magic ++ chunk("IHDR", badIhdr) ++ chunk("IDAT", defl1) ++
      chunk("IEND", Array.emptyByteArray)
    val e = intercept[IllegalArgumentException] { ImageCodec.decode(bad) }
    assert(e.getMessage.contains("invalid for color type"), e.getMessage)
  }

  test("farbfeld decode is real: dims from the header, channel high bytes as values") {
    import graft.operators.ImageCodec
    // 1x2 RGBA, 16-bit channels: pixel0 = (0xff00, 0x0100, 0, 0xffff),
    // pixel1 = (0x1234, 0, 0x8000, 0xffff)
    val ff = ImageCodec.encodeFarbfeld(1, 2,
      Array(0xff00, 0x0100, 0x0000, 0xffff, 0x1234, 0x0000, 0x8000, 0xffff))
    assert(new String(ff.take(8), "US-ASCII") == "farbfeld")
    val img = ImageCodec.decode(ff).get
    assert(img.format == "image/farbfeld" && img.width == 1 && img.height == 2
      && img.channels == 4)
    assert(img.pixels.toSeq == Seq(0xff, 0x01, 0x00, 0xff, 0x12, 0x00, 0x80, 0xff))
  }

  test("a BMP adopted through file(..., 'RawBLOB') featurizes with real decoded dims") {
    import graft.operators.ImageCodec
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rgb = Array.tabulate(5 * 3 * 3)(i => (i * 11) % 256)
    val bmp = ImageCodec.encodeBmp(5, 3, rgb)
    val dir = scratchDir("graft_m01blob")
    val p = dir.resolve("img.bmp")
    java.nio.file.Files.write(p, bmp)
    // RawBLOB is the media-ingest path: whole file → one binary cell
    val media = graft.functions.ChDdl.execute(spark,
        s"SELECT 1 AS doc_id, raw_blob FROM file('$p', 'RawBLOB')")
      .select(col("doc_id").cast("long").as("doc_id"),
        col("raw_blob").as("content"), lit("").as("format"),
        lit(0).as("width"), lit(0).as("height"))
    val row = Multimodal.featurize(media).collect().head
    assert(row.format == "image/bmp" && row.width == 5 && row.height == 3)
    assert(row.n_bytes == bmp.length.toLong)
    val want = rgb.sum / rgb.length.toDouble
    assert(math.abs(row.mean_byte - want) < 1e-12)
  }

  test("WAV decode is real: planted PCM samples survive 8/16-bit, stereo, and a LIST chunk") {
    import graft.operators.AudioCodec
    val u = Array.tabulate(24)(i => (i * 37 + 11) % 256)
    for (bits <- Seq(8, 16); ch <- Seq(1, 2); list <- Seq(false, true)) {
      val wav = AudioCodec.encodeWav(16000, ch, bits, u, plantListChunk = list)
      val a = AudioCodec.decode(wav).get
      assert(a.format == "audio/wav" && a.sampleRate == 16000 &&
        a.channels == ch && a.bits == bits && a.frames == 24 / ch,
        s"bits=$bits ch=$ch list=$list: $a")
      // exact samples back — 8-bit unsigned as-is, 16-bit signed-LE
      // normalized by top byte (exact for the planted u*256-32768)
      assert(a.samples.toSeq == u.toSeq, s"bits=$bits ch=$ch list=$list")
    }
    // an odd frame count at 8-bit mono forces the data pad byte; the
    // RIFF size must still parse (the pad is inside the riff span)
    val odd = AudioCodec.encodeWav(8000, 1, 8, Array(1, 2, 3))
    assert(odd.length % 2 == 0)
    assert(AudioCodec.decode(odd).get.samples.toSeq == Seq(1, 2, 3))
    // featurizeAudio: header metadata overrides the declared lie
    val wav = AudioCodec.encodeWav(44100, 2, 16, u, plantListChunk = true)
    val media = Seq((5L, wav, "declared/wrong", 0, 0))
      .toDF("doc_id", "content", "format", "width", "height")
    val row = Multimodal.featurizeAudio(media).collect().head
    assert(row.format == "audio/wav" && row.sample_rate == 44100 &&
      row.channels == 2 && row.bits == 16 && row.n_frames == 12)
    assert(row.n_bytes == wav.length.toLong)
    val want = u.sum / u.length.toDouble
    assert(math.abs(row.mean_sample - want) < 1e-12)
  }

  test("WAV hostile containers refuse loudly and degrade to opaque through featurizeAudio") {
    import graft.operators.AudioCodec
    val good = AudioCodec.encodeWav(8000, 1, 16, Array.tabulate(8)(_ * 30))
    // non-PCM format tag refuses BY NAME with guidance
    val flt = good.clone()
    flt(20) = 3 // audioFormat = IEEE float
    val e1 = intercept[IllegalArgumentException] { AudioCodec.decode(flt) }
    assert(e1.getMessage.contains("IEEE float") &&
      e1.getMessage.contains("audioFormat=1"), e1.getMessage)
    val ext = good.clone()
    ext(20) = 0xfe.toByte; ext(21) = 0xff.toByte // WAVE_FORMAT_EXTENSIBLE
    val e2 = intercept[IllegalArgumentException] { AudioCodec.decode(ext) }
    assert(e2.getMessage.contains("EXTENSIBLE"), e2.getMessage)
    // a data chunk declaring bytes past end-of-file refuses before
    // allocation
    val big = good.clone()
    big(40) = 0x7f // data chunk size (offset 40) -> huge
    big(41) = 0x7f; big(42) = 0x7f; big(43) = 0x7f
    val e3 = intercept[IllegalArgumentException] { AudioCodec.decode(big) }
    assert(e3.getMessage.contains("past end"), e3.getMessage)
    // a RIFF with no data chunk refuses
    val noData = java.util.Arrays.copyOf(good, 36) // header + fmt only
    val bb = java.nio.ByteBuffer.wrap(noData)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(4); bb.putInt(28) // riff size spans just WAVE + fmt
    val e4 = intercept[IllegalArgumentException] { AudioCodec.decode(noData) }
    assert(e4.getMessage.contains("no data chunk"), e4.getMessage)
    // non-RIFF bytes are None (the opaque path), and featurizeAudio
    // degrades hostile payloads instead of dying
    assert(AudioCodec.decode("not audio at all".getBytes).isEmpty)
    val media = Seq((1L, flt, "declared/fmt", 0, 0),
        (2L, "plain".getBytes, "text/plain", 0, 0))
      .toDF("doc_id", "content", "format", "width", "height")
    val rows = Multimodal.featurizeAudio(media).collect().sortBy(_.doc_id)
    assert(rows(0).format == "declared/fmt" && rows(0).sample_rate == 0)
    assert(rows(1).format == "text/plain" && rows(1).n_bytes == 5L)
  }

  test("AVI decode is real: planted DIB frames survive strides, JUNK, and row order") {
    import graft.operators.VideoCodec
    // w=2 -> stride 8 (2 pad bytes/row): the padding-aware raster walk
    val f0 = Array(10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val f1 = f0.map(v => 255 - v)
    for (junk <- Seq(false, true)) {
      val avi = VideoCodec.encodeAvi(2, 2, 40000, Array(f0, f1),
        plantJunkChunk = junk)
      assert(avi.length == VideoCodec.aviSize(2, 2, 2, junk), s"junk=$junk")
      val v = VideoCodec.decode(avi).get
      assert(v.format == "video/avi" && v.width == 2 && v.height == 2 &&
        v.usPerFrame == 40000 && v.frames.length == 2, s"junk=$junk: $v")
      assert(v.frames(0).index == 0 && v.frames(0).rgb.toSeq == f0.toSeq)
      assert(v.frames(1).index == 1 && v.frames(1).rgb.toSeq == f1.toSeq)
    }
    // every width 4..8 round-trips (all four stride pad values)
    for (w <- 4 to 8) {
      val px = Array.tabulate(w * 3 * 3)(i => (i * 7 + w) % 256)
      val v = VideoCodec.decode(
        VideoCodec.encodeAvi(w, 3, 33333, Array(px))).get
      assert(v.width == w && v.frames.head.rgb.toSeq == px.toSeq, s"w=$w")
    }
    // a TOP-DOWN DIB (negative strf height) reads rows unflipped:
    // patching the height sign must vertically flip the decoded raster
    val avi = VideoCodec.encodeAvi(2, 2, 40000, Array(f0))
    val bb = java.nio.ByteBuffer.wrap(avi)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(180, -2) // strf biHeight
    val flipped = VideoCodec.decode(avi).get.frames.head.rgb.toSeq
    assert(flipped == (f0.slice(6, 12) ++ f0.slice(0, 6)).toSeq)
  }

  test("AVI hostile containers refuse loudly; sampleVideoFrames decimates and quarantines") {
    import graft.operators.VideoCodec
    val px = Array.tabulate(12)(_ * 20)
    val good = VideoCodec.encodeAvi(2, 2, 40000,
      Array.tabulate(5)(f => px.map(v => (v + f) % 256)))
    def patched(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = good.clone()
      f(java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN))
      b
    }
    // compressed handler refuses BY NAME
    val e1 = intercept[IllegalArgumentException] {
      VideoCodec.decode(patched(_.put(112, "MJPG".getBytes)))
    }
    assert(e1.getMessage.contains("MJPG") &&
      e1.getMessage.contains("raw DIB"), e1.getMessage)
    // non-BI_RGB strf compression refuses by name
    val e2 = intercept[IllegalArgumentException] {
      VideoCodec.decode(patched(_.putInt(188, 1)))
    }
    assert(e2.getMessage.contains("BI_RLE8") &&
      e2.getMessage.contains("BI_RGB"), e2.getMessage)
    // a chunk declaring bytes past EOF refuses before allocation
    val e3 = intercept[IllegalArgumentException] {
      VideoCodec.decode(patched(_.putInt(28, 0x7f7f7f7f)))
    }
    assert(e3.getMessage.contains("past end"), e3.getMessage)
    // frame payload inconsistent with strf dims refuses
    val e4 = intercept[IllegalArgumentException] {
      VideoCodec.decode(patched(_.putInt(228, 8)))
    }
    assert(e4.getMessage.contains("strf says"), e4.getMessage)
    // implausible dims refuse before the stride*height allocation
    val e5 = intercept[IllegalArgumentException] {
      VideoCodec.decode(patched { b =>
        b.putInt(176, 1 << 20); b.putInt(180, 1 << 20)
      })
    }
    assert(e5.getMessage.contains("implausible dimensions"), e5.getMessage)
    // non-AVI RIFF (a WAV) and non-RIFF bytes are None (opaque path)
    import graft.operators.AudioCodec
    assert(VideoCodec.decode(
      AudioCodec.encodeWav(8000, 1, 8, Array(1, 2, 3))).isEmpty)
    assert(VideoCodec.decode("not a video".getBytes).isEmpty)
    // sampleVideoFrames: every=2 keeps frames 0/2/4 of 5, header
    // metadata overrides the declared lie, hostile rows emit nothing
    val media = Seq(
        (1L, good, "declared/wrong", 0, 0),
        (2L, patched(_.put(112, "MJPG".getBytes)), "x", 0, 0),
        (3L, "plain text".getBytes, "text/plain", 0, 0))
      .toDF("doc_id", "content", "format", "width", "height")
    val rows = Multimodal.sampleVideoFrames(media, every = 2).collect()
      .sortBy(_.frame_idx)
    assert(rows.forall(_.doc_id == 1L) && rows.length == 3)
    assert(rows.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(rows.head.width == 2 && rows.head.height == 2 &&
      rows.head.us_per_frame == 40000 && rows.head.n_frames == 5 &&
      rows.head.n_bytes == good.length.toLong)
    val want0 = px.sum / 12.0
    assert(math.abs(rows.head.mean_px - want0) < 1e-12)
    assert(math.abs(rows(1).mean_px - (px.map(v => (v + 2) % 256).sum / 12.0)) < 1e-12)
  }

  test("GIF decode is real: LZW stream + palette indirection reproduce planted pixels") {
    import graft.operators.ImageCodec
    // every palette size 4/8/16/256 (LZW min code size 2/3/4/8), and
    // a width that makes runs long enough to grow the string table
    for (nc <- Seq(4, 8, 16, 256)) {
      val w = 9; val h = 7
      val palette = Array.tabulate(nc * 3)(i => (i * 31 + 7) % 256)
      val idx = Array.tabulate(w * h)(p => (p / 3) % nc) // runs of 3
      val bytes = ImageCodec.encodeGif(w, h, palette, idx)
      val img = ImageCodec.decode(bytes).get
      assert(img.format == "image/gif" && img.width == w &&
        img.height == h && img.channels == 3, s"nc=$nc")
      val want = idx.flatMap(j =>
        Seq(palette(j * 3), palette(j * 3 + 1), palette(j * 3 + 2)))
      assert(img.pixels.toSeq == want.toSeq, s"nc=$nc")
    }
    // featurize: header-parsed dims override the declared lie
    val palette = Array.tabulate(12)(i => (i * 53) % 256)
    val gif = ImageCodec.encodeGif(5, 4, palette,
      Array.tabulate(20)(p => p % 4))
    val media = Seq((7L, gif, "declared/wrong", 99, 99))
      .toDF("doc_id", "content", "format", "width", "height")
    val row = Multimodal.featurize(media).collect().head
    assert(row.format == "image/gif" && row.width == 5 && row.height == 4)
  }

  test("GIF interlace, local color table and extensions decode to identical pixels in order") {
    import graft.operators.ImageCodec
    // the same image through all container shapes must yield the same
    // pixel ARRAY — this pins the 4-pass de-interlace row order and
    // the LCT byte layout POSITIONALLY, which order-invariant channel
    // stats cannot (heights 5/8/9 cover passes landing 1/2/3 rows)
    for (h <- Seq(5, 8, 9)) {
      val w = 6
      val palette = Array.tabulate(24)(i => (i * 19 + 3) % 256)
      val idx = Array.tabulate(w * h)(p => (p * 5 + p / w) % 8)
      val plain = ImageCodec.decode(
        ImageCodec.encodeGif(w, h, palette, idx)).get
      val inter = ImageCodec.decode(
        ImageCodec.encodeGif(w, h, palette, idx, interlaced = true)).get
      val local = ImageCodec.decode(
        ImageCodec.encodeGif(w, h, palette, idx, localTable = true)).get
      val ext = ImageCodec.decode(
        ImageCodec.encodeGif(w, h, palette, idx, plantExtension = true)).get
      assert(inter.pixels.toSeq == plain.pixels.toSeq, s"h=$h interlace")
      assert(local.pixels.toSeq == plain.pixels.toSeq, s"h=$h LCT")
      assert(ext.pixels.toSeq == plain.pixels.toSeq, s"h=$h extensions")
      // and the interlaced bytes really differ on disk (flag + rows)
      assert(ImageCodec.encodeGif(w, h, palette, idx, interlaced = true)
        .toSeq != ImageCodec.encodeGif(w, h, palette, idx).toSeq)
    }
  }

  test("the JDK's ImageIO independently round-trips our GIF bytes both directions") {
    import graft.operators.ImageCodec
    import java.awt.image.{BufferedImage, IndexColorModel}
    // OUR encoder -> javax.imageio reader (ships in the JDK): a
    // third-party decoder agreeing on every pixel is the strongest
    // KAT available for the LZW width-bump discipline
    val w = 11; val h = 6; val nc = 16
    val palette = Array.tabulate(nc * 3)(i => (i * 37 + 5) % 256)
    val idx = Array.tabulate(w * h)(p => (p * 7 + p / w) % nc)
    for (interlaced <- Seq(false, true)) {
      val bytes = ImageCodec.encodeGif(w, h, palette, idx,
        interlaced = interlaced)
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(bi != null && bi.getWidth == w && bi.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val j = idx(y * w + x)
        val want = 0xff000000 | (palette(j * 3) << 16) |
          (palette(j * 3 + 1) << 8) | palette(j * 3 + 2)
        assert(bi.getRGB(x, y) == want,
          s"ImageIO disagrees at ($x,$y) interlaced=$interlaced")
      }
    }
    // javax.imageio WRITER -> our decoder: foreign GIF bytes (the
    // JDK writes its own sub-block sizing, GCE, and table layout)
    val r = new Array[Byte](nc); val g = new Array[Byte](nc)
    val b = new Array[Byte](nc)
    for (j <- 0 until nc) {
      r(j) = palette(j * 3).toByte; g(j) = palette(j * 3 + 1).toByte
      b(j) = palette(j * 3 + 2).toByte
    }
    val icm = new IndexColorModel(4, nc, r, g, b)
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until h; x <- 0 until w) {
      val j = idx(y * w + x)
      bi.setRGB(x, y, 0xff000000 | (palette(j * 3) << 16) |
        (palette(j * 3 + 1) << 8) | palette(j * 3 + 2))
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", baos))
    val img = ImageCodec.decode(baos.toByteArray).get
    assert(img.width == w && img.height == h)
    val want = idx.flatMap(j =>
      Seq(palette(j * 3), palette(j * 3 + 1), palette(j * 3 + 2)))
    assert(img.pixels.toSeq == want.toSeq, "our decoder vs ImageIO writer")
  }

  test("GIF hostile containers refuse loudly and degrade to opaque through featurize") {
    import graft.operators.ImageCodec
    val palette = Array.tabulate(12)(i => (i * 41) % 256)
    val good = ImageCodec.encodeGif(4, 3, palette,
      Array.tabulate(12)(_ % 4))
    val descOff = 13 + 12 // header+LSD + GCT(4 colors)
    assert((good(descOff) & 0xff) == 0x2c, "test assumes descriptor offset")
    // animated: splice a second image descriptor before the trailer
    val imageSection = good.slice(descOff, good.length - 1)
    val animated = good.dropRight(1) ++ imageSection :+ 0x3b.toByte
    val e1 = intercept[IllegalArgumentException] {
      ImageCodec.decode(animated)
    }
    assert(e1.getMessage.contains("animated") &&
      e1.getMessage.contains("video path"), e1.getMessage)
    // truncated mid-image-data refuses (sub-block walk or LZW length)
    val e2 = intercept[IllegalArgumentException] {
      ImageCodec.decode(good.dropRight(4))
    }
    assert(e2.getMessage.contains("truncated") ||
      e2.getMessage.contains("ended before"), e2.getMessage)
    // unknown block introducer refuses with the byte named
    val unk = good.clone(); unk(descOff) = 0x13
    val e3 = intercept[IllegalArgumentException] { ImageCodec.decode(unk) }
    assert(e3.getMessage.contains("unknown block"), e3.getMessage)
    // implausible dimensions refuse before allocation (screen and
    // descriptor patched together so the full-frame check is passed)
    val big = good.clone()
    for (o <- Seq(6, 7, 8, 9, descOff + 5, descOff + 6, descOff + 7,
        descOff + 8)) big(o) = 0xff.toByte
    val e4 = intercept[IllegalArgumentException] { ImageCodec.decode(big) }
    assert(e4.getMessage.contains("implausible"), e4.getMessage)
    // sub-rectangle placement refuses with guidance
    val sub = good.clone(); sub(descOff + 5) = 2 // narrower than screen
    val e5 = intercept[IllegalArgumentException] { ImageCodec.decode(sub) }
    assert(e5.getMessage.contains("sub-rectangle"), e5.getMessage)
    // all degrade to the opaque branch through featurize
    val media = Seq((1L, animated), (2L, good.dropRight(4)), (3L, unk),
        (4L, big), (5L, sub))
      .toDF("doc_id", "content")
      .selectExpr("doc_id", "content", "'d' AS format",
        "9 AS width", "9 AS height")
    val rows = Multimodal.featurize(media).collect()
    assert(rows.forall(r => r.format == "d" && r.width == 9), rows.toSeq)
  }

  test("animated GIF composites: placement, transparency, and every disposal method") {
    import graft.operators.{ImageCodec, VideoCodec}
    import graft.operators.ImageCodec.GifFrame
    // 3x2 canvas, 4 colors; hand-traced composition:
    //   f0 full-frame, f1 sub-rect with a TRANSPARENT pixel then
    //   restore-to-background, f2 then restore-to-previous, f3 plain
    val pal = Array(10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42)
    def c(j: Int) = Seq(pal(j * 3), pal(j * 3 + 1), pal(j * 3 + 2))
    val frames = Seq(
      GifFrame(0, 0, 3, 2, Array(0, 1, 1, 3, 0, 1), 7, disposal = 1),
      GifFrame(1, 0, 2, 1, Array(0, 2), 7, disposal = 2, transparentIdx = 0),
      GifFrame(0, 1, 1, 1, Array(2), 7, disposal = 3),
      GifFrame(0, 0, 1, 1, Array(1), 7, disposal = 0))
    val bytes = ImageCodec.encodeGifAnim(3, 2, pal, frames, loop = true)
    val v = VideoCodec.decode(bytes).get
    assert(v.format == "image/gif" && v.width == 3 && v.height == 2 &&
      v.usPerFrame == 70000 && v.frames.length == 4)
    // f0: straight paint
    assert(v.frames(0).rgb.toSeq ==
      (c(0) ++ c(1) ++ c(1) ++ c(3) ++ c(0) ++ c(1)))
    // f1: (1,0) transparent -> shows f0's color; (2,0) painted
    assert(v.frames(1).rgb.toSeq ==
      (c(0) ++ c(1) ++ c(2) ++ c(3) ++ c(0) ++ c(1)))
    // f2: f1's rect was restored to BACKGROUND (index 0), then (0,1)
    // painted over
    assert(v.frames(2).rgb.toSeq ==
      (c(0) ++ c(0) ++ c(0) ++ c(2) ++ c(0) ++ c(1)))
    // f3: f2's disposal=3 restored the canvas to BEFORE f2 (so (0,1)
    // is f0's color again), then (0,0) painted
    assert(v.frames(3).rgb.toSeq ==
      (c(1) ++ c(0) ++ c(0) ++ c(3) ++ c(0) ++ c(1)))
    // a still GIF through the video path is its one frame
    val still = ImageCodec.encodeGif(3, 2, pal, Array(0, 1, 1, 3, 0, 1))
    val sv = VideoCodec.decode(still).get
    assert(sv.frames.length == 1 &&
      sv.frames(0).rgb.toSeq == v.frames(0).rgb.toSeq)
    // hostile: frame rect outside the screen refuses (patch left);
    // descriptor offset: header(13) + GCT(12) + NETSCAPE(19) + GCE(8)
    val descOff = 13 + 12 + 19 + 8
    assert((bytes(descOff) & 0xff) == 0x2c, "test assumes descriptor offset")
    val out = bytes.clone(); out(descOff + 1) = 200.toByte
    val e1 = intercept[IllegalArgumentException] {
      VideoCodec.decode(out)
    }
    assert(e1.getMessage.contains("outside"), e1.getMessage)
    // reserved disposal method refuses by number
    val rd = bytes.clone(); rd(descOff - 5) = 0x1c.toByte
    val e2 = intercept[IllegalArgumentException] { VideoCodec.decode(rd) }
    assert(e2.getMessage.contains("disposal"), e2.getMessage)
    // sampleVideoFrames: every=2 keeps composited snapshots 0 and 2
    import org.apache.spark.sql.functions.col
    val media = Seq((1L, bytes, "declared/wrong", 0, 0))
      .toDF("doc_id", "content", "format", "width", "height")
    val rows = Multimodal.sampleVideoFrames(media, every = 2).collect()
      .sortBy(_.frame_idx)
    assert(rows.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(rows.head.format == "image/gif" && rows.head.width == 3 &&
      rows.head.n_frames == 4 && rows.head.us_per_frame == 70000)
    val want0 = v.frames(0).rgb.sum / 18.0
    assert(math.abs(rows.head.mean_px - want0) < 1e-12)
    val want2 = v.frames(2).rgb.sum / 18.0
    assert(math.abs(rows(1).mean_px - want2) < 1e-12)
  }

  test("JPEG decode is real: flat blocks round-trip Huffman+DCT bit-exactly, restarts honored") {
    import graft.operators.{ImageCodec, JpegCodec}
    // per-8x8-block flat grayscale: the DC-only path is EXACT with
    // the encoder's q0=8 (F(0,0) of a flat block is 8·(v-128)); the
    // 13x10 dims exercise partial edge blocks + cropping
    val w = 13; val h = 10
    def flat(x: Int, y: Int) = ((x / 8) * 31 + (y / 8) * 57 + 19) % 256
    val px = Array.tabulate(w * h)(i => flat(i % w, i / w))
    for (restart <- Seq(0, 1, 2)) {
      val bytes = JpegCodec.encodeJpeg(w, h, 1, px, restartEvery = restart)
      val img = ImageCodec.decode(bytes).get
      assert(img.format == "image/jpeg" && img.width == w &&
        img.height == h && img.channels == 1, s"restart=$restart")
      assert(img.pixels.toSeq == px.toSeq, s"restart=$restart")
    }
    // color 4:4:4: r=g=b flat blocks make YCbCr (v,128,128) — exact
    // through the full color pipeline
    val rgb = Array.tabulate(w * h * 3)(i => flat((i / 3) % w, i / 3 / w))
    val cimg = ImageCodec.decode(JpegCodec.encodeJpeg(w, h, 3, rgb)).get
    assert(cimg.channels == 3 && cimg.pixels.toSeq == rgb.toSeq)
    // true color round-trips within the double-conversion tolerance
    val tc = Array.tabulate(8 * 8 * 3)(i => (i % 3) match {
      case 0 => 200; case 1 => 64; case _ => 120 })
    val timg = ImageCodec.decode(JpegCodec.encodeJpeg(8, 8, 3, tc)).get
    assert(timg.pixels.zip(tc).forall { case (a, b) => math.abs(a - b) <= 2 },
      timg.pixels.take(6).toSeq)
    // featurize: header dims override the declared lie
    val media = Seq((9L, JpegCodec.encodeJpeg(w, h, 1, px), "x", 0, 0))
      .toDF("doc_id", "content", "format", "width", "height")
    val row = Multimodal.featurize(media).collect().head
    assert(row.format == "image/jpeg" && row.width == w && row.height == h)
    val want = px.sum / px.length.toDouble
    assert(math.abs(row.mean_byte - want) < 1e-12)
  }

  test("the JDK's ImageIO independently reads our JPEG bytes (and ours reads its)") {
    import graft.operators.{ImageCodec, JpegCodec}
    import java.awt.image.BufferedImage
    // our encoder -> javax.imageio: a third-party decoder within the
    // IEEE 1180 IDCT tolerance (±1) on every sample validates the
    // whole stack — canonical DHT, entropy coding, dequant, IDCT
    val w = 13; val h = 10
    val px = Array.tabulate(w * h)(i => (i * 29 + 17) % 256)
    val bytes = JpegCodec.encodeJpeg(w, h, 1, px)
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(bi != null && bi.getWidth == w && bi.getHeight == h)
    val ours = ImageCodec.decode(bytes).get
    for (y <- 0 until h; x <- 0 until w) {
      val theirs = bi.getRaster.getSample(x, y, 0)
      assert(math.abs(theirs - ours.pixels(y * w + x)) <= 1,
        s"ImageIO disagrees at ($x,$y): $theirs vs ${ours.pixels(y * w + x)}")
    }
    // javax.imageio WRITER -> our decoder, judged against ImageIO's
    // own read of the same bytes (two decoders, one file, ±1)
    val gray = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      gray.getRaster.setSample(x, y, 0, px(y * w + x))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(gray, "jpg", baos))
    val foreign = baos.toByteArray
    val mine = ImageCodec.decode(foreign).get
    assert(mine.width == w && mine.height == h && mine.channels == 1)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(foreign))
    for (y <- 0 until h; x <- 0 until w) {
      val a = mine.pixels(y * w + x)
      val b = ref.getRaster.getSample(x, y, 0)
      assert(math.abs(a - b) <= 1, s"foreign JPEG at ($x,$y): $a vs $b")
    }
  }

  test("JPEG 4:2:0 chroma subsampling decodes: MCU interleave + upsampling") {
    import graft.operators.{ImageCodec, JpegCodec}
    // 4:2:0 is what the web actually serves. Per-8x8-block flat
    // r=g=b values: Y is block-flat (DC-only exact), chroma is a
    // constant 128 (box-average exact, any upsampler agrees) — the
    // full MCU-interleaved pipeline round-trips bit-exactly
    val w = 21; val h = 19 // partial MCUs on both axes
    def flat(x: Int, y: Int) = ((x / 8) * 47 + (y / 8) * 23 + 31) % 256
    val rgb = Array.tabulate(w * h * 3)(i => flat((i / 3) % w, i / 3 / w))
    for (restart <- Seq(0, 1)) {
      val bytes = JpegCodec.encodeJpeg(w, h, 3, rgb,
        restartEvery = restart, subsample = true)
      val img = ImageCodec.decode(bytes).get
      assert(img.width == w && img.height == h && img.channels == 3)
      assert(img.pixels.toSeq == rgb.toSeq, s"restart=$restart")
      // the JDK's ImageIO agrees within the IDCT tolerance (constant
      // chroma makes its fancy upsampling and our nearest agree)
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(bi != null && bi.getWidth == w)
      for (y <- 0 until h; x <- 0 until w) {
        val want = flat(x, y)
        val got = bi.getRGB(x, y) & 0xff
        assert(math.abs(got - want) <= 1, s"ImageIO at ($x,$y)")
      }
    }
    // 16x16-aligned flat COLOR regions survive 4:2:0 within the
    // double-conversion tolerance (chroma box-average is exact)
    val cw = 16; val chh = 16
    val color = Array.tabulate(cw * chh * 3)(i => (i % 3) match {
      case 0 => 180; case 1 => 90; case _ => 40 })
    val cimg = ImageCodec.decode(
      JpegCodec.encodeJpeg(cw, chh, 3, color, subsample = true)).get
    assert(cimg.pixels.zip(color).forall { case (a, b) =>
      math.abs(a - b) <= 2 }, cimg.pixels.take(6).toSeq)
  }

  test("progressive JPEG decodes: spectral selection, refinement scans, EOB runs") {
    import graft.operators.ImageCodec
    import java.awt.image.BufferedImage
    // the JDK's writer emits real multi-scan progressive files
    // (spectral selection + successive approximation) — decode them
    // and judge against ImageIO's own read of the same bytes (±1)
    def writeProgressive(bi: BufferedImage): Array[Byte] = {
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpg").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
      ios.close(); writer.dispose()
      baos.toByteArray
    }
    def isSof2(b: Array[Byte]): Boolean =
      b.sliding(2).exists(p => (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc2)
    val w = 29; val h = 23
    // gray: full AC spectrum, partial blocks
    val gray = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      gray.getRaster.setSample(x, y, 0, (x * 13 + y * 31 + x * y) % 256)
    val gb = writeProgressive(gray)
    assert(isSof2(gb), "JDK writer did not emit SOF2")
    val mine = ImageCodec.decode(gb).get
    assert(mine.width == w && mine.height == h && mine.channels == 1)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gb))
    for (y <- 0 until h; x <- 0 until w) {
      val a = mine.pixels(y * w + x)
      val b = ref.getRaster.getSample(x, y, 0)
      assert(math.abs(a - b) <= 1, s"progressive gray at ($x,$y): $a vs $b")
    }
    // color (gray-valued RGB keeps chroma constant, so our nearest
    // upsampling and ImageIO's fancy one agree if it subsamples)
    val rgb = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 7 + y * 17) % 256
      rgb.setRGB(x, y, 0xff000000 | (v << 16) | (v << 8) | v)
    }
    val cb = writeProgressive(rgb)
    assert(isSof2(cb), "JDK writer did not emit SOF2 for color")
    val mc = ImageCodec.decode(cb).get
    assert(mc.width == w && mc.height == h && mc.channels == 3)
    val rc = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(cb))
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val a = mc.pixels((y * w + x) * 3 + c)
      val b = (rc.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      maxDiff = math.max(maxDiff, math.abs(a - b))
    }
    assert(maxDiff <= 2, s"progressive color max diff $maxDiff")
  }

  test("JPEG honors Exif orientation: rotated phone photos decode upright") {
    import graft.operators.{ImageCodec, JpegCodec}
    // 16x8, two flat blocks: left = 40, right = 200 — block-flat so
    // the codec round-trip is exact and the rotation is visible
    val w = 16; val h = 8
    val px = Array.tabulate(w * h)(i => if (i % w < 8) 40 else 200)
    val plain = JpegCodec.encodeJpeg(w, h, 1, px)
    def withExif(orientation: Int, bigEndian: Boolean): Array[Byte] = {
      val tiff =
        if (!bigEndian)
          Array[Int]('I', 'I', 0x2a, 0, 8, 0, 0, 0, // LE header, IFD@8
            1, 0, // one entry
            0x12, 0x01, 3, 0, 1, 0, 0, 0, orientation, 0, 0, 0,
            0, 0, 0, 0).map(_.toByte)
        else
          Array[Int]('M', 'M', 0, 0x2a, 0, 0, 0, 8,
            0, 1,
            0x01, 0x12, 0, 3, 0, 0, 0, 1, 0, orientation, 0, 0,
            0, 0, 0, 0).map(_.toByte)
      val payload = "Exif".getBytes ++ Array[Byte](0, 0) ++ tiff
      val app1 = Array[Byte](0xff.toByte, 0xe1.toByte,
        ((payload.length + 2) >> 8).toByte,
        ((payload.length + 2) & 0xff).toByte) ++ payload
      plain.take(2) ++ app1 ++ plain.drop(2) // splice after SOI
    }
    // orientation 1: unchanged
    val o1 = ImageCodec.decode(withExif(1, bigEndian = false)).get
    assert(o1.width == 16 && o1.pixels.toSeq == px.toSeq)
    // orientation 6 (rotate 90 CW to display): stored LEFT block
    // becomes the displayed TOP block, dims swap — both endiannesses
    for (be <- Seq(false, true)) {
      val o6 = ImageCodec.decode(withExif(6, bigEndian = be)).get
      assert(o6.width == 8 && o6.height == 16, s"be=$be")
      val want = Array.tabulate(8 * 16)(i => if (i / 8 < 8) 40 else 200)
      assert(o6.pixels.toSeq == want.toSeq, s"be=$be")
    }
    // orientation 2 (mirror horizontal): blocks swap sides
    val o2 = ImageCodec.decode(withExif(2, bigEndian = false)).get
    assert(o2.width == 16 && o2.height == 8)
    assert(o2.pixels.toSeq ==
      Array.tabulate(w * h)(i => if (i % w < 8) 200 else 40).toSeq)
    // orientation 8 (rotate 90 CCW): stored LEFT block -> displayed
    // BOTTOM block
    val o8 = ImageCodec.decode(withExif(8, bigEndian = false)).get
    assert(o8.width == 8 && o8.height == 16)
    assert(o8.pixels.toSeq ==
      Array.tabulate(8 * 16)(i => if (i / 8 < 8) 200 else 40).toSeq)
    // a malformed Exif block is advisory: ignored, never fatal
    val junk = withExif(6, bigEndian = false)
    junk(8) = 'X'.toByte // corrupt the "Exif" signature
    val oj = ImageCodec.decode(junk).get
    assert(oj.width == 16 && oj.pixels.toSeq == px.toSeq)
  }

  test("JPEG hostile table selectors refuse as IAE; Adobe APP14 RGB decodes directly") {
    import graft.operators.{ImageCodec, JpegCodec}
    val px = Array.tabulate(8 * 8)(i => (i * 3) % 256)
    val good = JpegCodec.encodeJpeg(8, 8, 1, px)
    // SOF quant selector >= 4 must refuse loudly (IAE, not an
    // ArrayIndexOutOfBounds that would kill the Spark task)
    val badQ = good.clone(); badQ(83) = 9.toByte // component Tq
    val e1 = intercept[IllegalArgumentException] { ImageCodec.decode(badQ) }
    assert(e1.getMessage.contains("quant table selector"), e1.getMessage)
    // SOS Huffman selector >= 4 likewise (SOS comp entry: the byte
    // after the component id; locate SOS by marker scan)
    val sosAt = good.indices.dropRight(1)
      .find(i => (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda).get
    val badH = good.clone(); badH(sosAt + 6) = 0xf0.toByte // Td=15
    val e2 = intercept[IllegalArgumentException] { ImageCodec.decode(badH) }
    assert(e2.getMessage.contains("Huffman table selector"), e2.getMessage)
    // Adobe APP14 transform=0: components are stored RGB — the YCbCr
    // matrix must NOT be applied. r=g=b planted color encodes to
    // Y=v, Cb=Cr=128; with APP14 spliced the decode returns those
    // component values directly
    val w = 16; val h = 8
    val rgb = Array.tabulate(w * h * 3)(i =>
      if ((i / 3) % w < 8) 40 else 200)
    val color = JpegCodec.encodeJpeg(w, h, 3, rgb)
    val adobe = Array[Byte](0xff.toByte, 0xee.toByte, 0, 14) ++
      "Adobe".getBytes ++ Array[Byte](0, 100, 0, 0, 0, 0, 0) // transform 0
    val spliced = color.take(2) ++ adobe ++ color.drop(2)
    val img = ImageCodec.decode(spliced).get
    assert(img.channels == 3)
    for (p <- 0 until w * h) {
      val v = if (p % w < 8) 40 else 200
      assert(img.pixels(p * 3) == v, s"R at $p")       // component 0 = Y = v
      assert(img.pixels(p * 3 + 1) == 128, s"G at $p") // component 1 = Cb
      assert(img.pixels(p * 3 + 2) == 128, s"B at $p") // component 2 = Cr
    }
  }

  test("AVI review hardening: rec groups, audio streams, deep nesting, unpadded tail") {
    import graft.operators.{Multimodal, VideoCodec}
    val w = 4; val h = 2
    val f0 = Array.tabulate(w * h * 3)(i => (i * 11) % 256)
    val f1 = f0.map(v => (v + 7) % 256)
    val plain = VideoCodec.encodeAvi(w, h, 40000, Array(f0, f1))
    val base = VideoCodec.decode(plain).get
    assert(base.frames.length == 2)
    def patchInt(b: Array[Byte], off: Int, v: Int): Unit =
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(off, v)
    def getInt(b: Array[Byte], off: Int): Int =
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .getInt(off)
    // 1. interleaved capture layout: frames wrapped in LIST 'rec '
    //    groups inside movi must still decode
    val moviAt = plain.indices.sliding(1).flatten
      .find(i => i + 12 <= plain.length &&
        new String(plain.slice(i, i + 4)) == "LIST" &&
        new String(plain.slice(i + 8, i + 12)) == "movi").get
    val framesStart = moviAt + 12
    val framesBytes = plain.length - framesStart
    val rec = new java.io.ByteArrayOutputStream()
    rec.write(plain, 0, framesStart)
    rec.write("LIST".getBytes)
    rec.write(Array[Byte](0, 0, 0, 0)); rec.write("rec ".getBytes)
    rec.write(plain, framesStart, framesBytes)
    val recBytes = rec.toByteArray
    patchInt(recBytes, framesStart + 4, 4 + framesBytes) // rec size
    patchInt(recBytes, moviAt + 4, getInt(plain, moviAt + 4) + 12)
    patchInt(recBytes, 4, getInt(plain, 4) + 12) // RIFF size
    val viaRec = VideoCodec.decode(recBytes).get
    assert(viaRec.frames.length == 2 &&
      viaRec.frames(0).rgb.toSeq == base.frames(0).rgb.toSeq, "rec groups")
    // 2. an audio strl (strh 'auds' + 16-byte WAVEFORMAT strf) after
    //    the video strl must be tolerated, not refuse the file
    val strlEnd = 212 // RIFF(12) + LIST hdrl hdr(8+4) + avih(64) + strl(124)
    val audio = new java.io.ByteArrayOutputStream()
    audio.write("LIST".getBytes)
    audio.write(Array[Byte]((4 + 64 + 24).toByte, 0, 0, 0))
    audio.write("strl".getBytes)
    audio.write("strh".getBytes); audio.write(Array[Byte](56, 0, 0, 0))
    audio.write("auds".getBytes); audio.write(new Array[Byte](52))
    audio.write("strf".getBytes); audio.write(Array[Byte](16, 0, 0, 0))
    audio.write(new Array[Byte](16))
    val au = audio.toByteArray
    val withAudio = plain.take(strlEnd) ++ au ++ plain.drop(strlEnd)
    patchInt(withAudio, 16, getInt(plain, 16) + au.length) // hdrl size
    patchInt(withAudio, 4, getInt(plain, 4) + au.length)   // RIFF size
    val viaAudio = VideoCodec.decode(withAudio).get
    assert(viaAudio.width == w && viaAudio.frames.length == 2,
      "audio stream tolerated")
    // 3. hostile deep LIST nesting refuses as IAE (not StackOverflow)
    val deep = new java.io.ByteArrayOutputStream()
    deep.write("RIFF".getBytes); deep.write(Array[Byte](-1, 1, 0, 0))
    deep.write("AVI ".getBytes)
    for (_ <- 0 until 40) {
      deep.write("LIST".getBytes); deep.write(Array[Byte](-1, 0, 0, 0))
      deep.write("hdrl".getBytes)
    }
    deep.write(new Array[Byte](300))
    val db = deep.toByteArray
    patchInt(db, 4, db.length - 8)
    for (i <- 0 until 40)
      patchInt(db, 12 + i * 12 + 4, db.length - (12 + i * 12 + 8))
    val e = intercept[IllegalArgumentException] { VideoCodec.decode(db) }
    assert(e.getMessage.contains("nesting"), e.getMessage)
    // 4. a final odd-sized chunk without its RIFF pad byte at EOF is
    //    tolerated (clamped), not refused
    val tail = plain ++ "vndr".getBytes ++ Array[Byte](5, 0, 0, 0) ++
      Array[Byte](1, 2, 3, 4, 5)
    patchInt(tail, 4, getInt(plain, 4) + 13)
    val viaTail = VideoCodec.decode(tail).get
    assert(viaTail.frames.length == 2, "unpadded tail chunk")
  }

  test("JPEG non-baseline forms refuse by name and degrade to opaque through featurize") {
    import graft.operators.{ImageCodec, JpegCodec}
    val px = Array.tabulate(8 * 8)(i => (i * 3) % 256)
    val good = JpegCodec.encodeJpeg(8, 8, 1, px)
    // layout: SOI(2) + DQT(2+2+1+64=69) puts the SOF0 marker at 71
    assert((good(71) & 0xff) == 0xff && (good(72) & 0xff) == 0xc0)
    // a baseline scan re-labeled SOF2 is CORRUPT progressive (its
    // single scan spans DC and AC bands) — refused with the reason
    val prog = good.clone(); prog(72) = 0xc2.toByte
    val e1 = intercept[IllegalArgumentException] { ImageCodec.decode(prog) }
    assert(e1.getMessage.contains("mixing DC and AC"), e1.getMessage)
    // lossless SOF3 refuses by name
    val lossless = good.clone(); lossless(72) = 0xc3.toByte
    val e1b = intercept[IllegalArgumentException] {
      ImageCodec.decode(lossless)
    }
    assert(e1b.getMessage.contains("lossless"), e1b.getMessage)
    val sub = good.clone(); sub(82) = 0x31.toByte // sampling factor 3x1
    val e2 = intercept[IllegalArgumentException] { ImageCodec.decode(sub) }
    assert(e2.getMessage.contains("sampling factor"), e2.getMessage)
    val deep = good.clone(); deep(75) = 12.toByte // precision
    val e3 = intercept[IllegalArgumentException] { ImageCodec.decode(deep) }
    assert(e3.getMessage.contains("12-bit"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      ImageCodec.decode(good.dropRight(6))
    }
    assert(e4.getMessage.contains("truncated"), e4.getMessage)
    // implausible dims refuse before allocation
    val big = good.clone()
    big(76) = 0x7f.toByte; big(77) = 0xff.toByte // height
    big(78) = 0x7f.toByte; big(79) = 0xff.toByte // width
    val e5 = intercept[IllegalArgumentException] { ImageCodec.decode(big) }
    assert(e5.getMessage.contains("implausible"), e5.getMessage)
    val media = Seq((1L, prog), (2L, sub), (3L, deep),
        (4L, good.dropRight(6)), (5L, big))
      .toDF("doc_id", "content")
      .selectExpr("doc_id", "content", "'d' AS format",
        "9 AS width", "9 AS height")
    val rows = Multimodal.featurize(media).collect()
    assert(rows.forall(r => r.format == "d" && r.width == 9), rows.toSeq)
  }

  test("PNG gray/RGB tRNS: single transparent color synthesizes the alpha channel") {
    import graft.operators.ImageCodec
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = { val c = new java.util.zip.CRC32()
        c.update(typ.getBytes); c.update(data); c.getValue.toInt }
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes).put(data).putInt(crc).array()
    }
    // insert a tRNS chunk before the first IDAT of an encodePng file
    def withTrns(png: Array[Byte], samples: Array[Int]): Array[Byte] = {
      val data = samples.flatMap(s =>
        Array(((s >> 8) & 0xff).toByte, (s & 0xff).toByte))
      val idatAt = 8 + 25 // sig + IHDR
      png.slice(0, idatAt) ++ chunk("tRNS", data) ++ png.slice(idatAt, png.length)
    }
    // 8-bit gray: value 7 transparent
    val g = Array(7, 40, 7, 99, 200, 7)
    val gPng = withTrns(ImageCodec.encodePng(3, 2, 1, g), Array(7))
    val gImg = ImageCodec.decode(gPng).get
    assert(gImg.channels == 2)
    assert(gImg.pixels.toSeq == Seq(7, 0, 40, 255, 7, 0, 99, 255, 200, 255, 7, 0))
    // 8-bit RGB: color (10,20,30) transparent; (10,20,31) is NOT
    val c = Array(10, 20, 30, 10, 20, 31, 10, 20, 30, 1, 2, 3)
    val cPng = withTrns(ImageCodec.encodePng(2, 2, 3, c), Array(10, 20, 30))
    val cImg = ImageCodec.decode(cPng).get
    assert(cImg.channels == 4)
    assert(cImg.pixels.grouped(4).map(_(3)).toSeq == Seq(0, 255, 0, 255))
    // scaled sub-byte depth: a 4-bit gray raw sample 3 scales to 51 —
    // hand-build a 1x2 depth-4 gray PNG with samples (3, 9)
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(1).putInt(2)
      .put(4.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    val rawRows = Array[Byte](0, 0x30, 0, (9 << 4).toByte) // filter0 + MSB-first
    val deflated = {
      val d = new java.util.zip.Deflater(); d.setInput(rawRows); d.finish()
      val buf = new Array[Byte](64); val n = d.deflate(buf); d.end()
      buf.take(n)
    }
    val subPng = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a) ++ chunk("IHDR", ihdr) ++
      chunk("tRNS", Array[Byte](0, 3)) ++ chunk("IDAT", deflated) ++
      chunk("IEND", Array.emptyByteArray)
    val subImg = ImageCodec.decode(subPng).get
    assert(subImg.channels == 2)
    assert(subImg.pixels.toSeq == Seq(51, 0, 153, 255)) // 3*17=51 transparent
    // tRNS with an alpha color type refuses (spec 11.3.2)
    val ga = ImageCodec.encodePng(2, 1, 4, Array(1, 2, 3, 4, 5, 6, 7, 8))
    val e = intercept[IllegalArgumentException] {
      ImageCodec.decode(withTrns(ga, Array(1, 2, 3, 4)))
    }
    assert(e.getMessage.contains("alpha color type"), e.getMessage)
  }

  test("CMYK/YCCK JPEG decodes: Adobe APP14 transform honored, inverted ink multiplied") {
    import graft.operators.{ImageCodec, JpegCodec}
    // per-8x8-block FLAT samples (the m10 DC-exact regime) so every
    // component round-trips bit-exactly and the CMYK->RGB arithmetic
    // is the only thing under test
    val w = 16; val h = 8 // 2x1 blocks
    def blockFlat(vals: Array[Int]): Array[Int] =
      Array.tabulate(w * h * 4) { i =>
        val p = i / 4; val bx = (p % w) / 8
        vals(bx * 4 + i % 4)
      }
    // transform 0 (direct inverted CMYK): RGB = stored_c * stored_k / 255
    val cmyk = blockFlat(Array(200, 96, 40, 128, 255, 0, 160, 255))
    val direct = JpegCodec.encodeJpeg(w, h, 4, cmyk, adobeTransform = 0)
    val img = ImageCodec.decode(direct).get
    assert(img.format == "image/jpeg" && img.width == w &&
      img.height == h && img.channels == 3)
    def mul(c: Int, k: Int) = math.round(c * k / 255.0).toInt
    val expDirect = Array.tabulate(w * h * 3) { i =>
      val p = i / 3
      mul(cmyk(p * 4 + i % 3), cmyk(p * 4 + 3))
    }
    assert(img.pixels.toSeq == expDirect.toSeq)
    // transform 2 (YCCK): stored CMY ride the YCbCr matrix; the round
    // trip is matrix-lossy, so assert against OUR encoder's forward
    // matrix replayed through the decoder's inverse (both clamped
    // integer math) with a +-1 per-channel tolerance, K bit-exact
    val ycck = JpegCodec.encodeJpeg(w, h, 4, cmyk, adobeTransform = 2)
    val img2 = ImageCodec.decode(ycck).get
    assert(img2.channels == 3 && img2.width == w)
    var i = 0
    while (i < img2.pixels.length) {
      assert(math.abs(img2.pixels(i) - expDirect(i)) <= 3,
        s"YCCK pixel $i: ${img2.pixels(i)} vs ${expDirect(i)}")
      i += 1
    }
    // the JDK's ImageIO raster read (no color conversion) agrees with
    // the planted component samples on the transform-0 file —
    // cross-validates the 4-component Huffman/MCU path independently
    val rdrs = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg")
    assert(rdrs.hasNext)
    val rdr = rdrs.next()
    rdr.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(direct)))
    val raster = rdr.readRaster(0, null)
    assert(raster.getNumBands == 4)
    for (p <- Seq((0, 0), (8, 0), (15, 7))) {
      val got = new Array[Int](4)
      raster.getPixel(p._1, p._2, got)
      val base = (p._2 * w + p._1) * 4
      assert(got.toSeq == cmyk.slice(base, base + 4).toSeq, s"at $p")
    }
    // a 4-component frame with NO Adobe APP14 refuses by name: strip
    // the APP14 segment (16 bytes at offset 2) from the direct file
    val noApp14 = direct.slice(0, 2) ++ direct.slice(18, direct.length)
    val e = intercept[IllegalArgumentException] {
      ImageCodec.decode(noApp14)
    }
    assert(e.getMessage.contains("CMYK") &&
      e.getMessage.contains("APP14"), e.getMessage)
  }

  test("r18 advice hardening: double SOF, PLTE/tRNS ordering, strf-before-strh") {
    import graft.operators.{ImageCodec, JpegCodec, VideoCodec}
    import java.nio.{ByteBuffer, ByteOrder}
    // JPEG: a second SOF marker after the first must refuse loudly —
    // silently re-running parseSof would discard decoded scan state
    val jp = JpegCodec.encodeJpeg(8, 8, 1, Array.fill(64)(128))
    var sof = -1; var i = 2
    while (sof < 0 && i + 3 < jp.length) {
      if ((jp(i) & 0xff) == 0xff && (jp(i + 1) & 0xff) == 0xc0) sof = i
      i += 1
    }
    assert(sof > 0, "encoder emitted no SOF0?")
    val segLen = (((jp(sof + 2) & 0xff) << 8) | (jp(sof + 3) & 0xff)) + 2
    val twoSof = jp.slice(0, sof + segLen) ++ jp.slice(sof, jp.length)
    val e1 = intercept[IllegalArgumentException] { ImageCodec.decode(twoSof) }
    assert(e1.getMessage.contains("multiple SOF"), e1.getMessage)

    // PNG: chunk-order surgery — whole-chunk moves keep CRCs valid, so
    // only the new ordering checks can refuse these
    def chunksOf(png: Array[Byte]): Map[String, Array[Byte]] = {
      var pos = 8
      val out = Map.newBuilder[String, Array[Byte]]
      while (pos < png.length) {
        val len = ByteBuffer.wrap(png, pos, 4).getInt
        val typ = new String(png, pos + 4, 4, "US-ASCII")
        out += typ -> png.slice(pos, pos + 12 + len)
        pos += 12 + len
      }
      out.result()
    }
    val pal = Array(0, 0, 0, 255, 0, 0)
    val ipng = ImageCodec.encodePngIndexed(2, 2, pal, Array(0, 1, 1, 0),
      trns = Array(10, 255))
    val sig = ipng.slice(0, 8)
    val ck = chunksOf(ipng)
    def png(order: String*): Array[Byte] = sig ++ order.flatMap(ck(_))
    val e2 = intercept[IllegalArgumentException] {
      ImageCodec.decode(png("IHDR", "tRNS", "IDAT", "PLTE", "IEND"))
    }
    assert(e2.getMessage.contains("PLTE after IDAT"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      ImageCodec.decode(sig ++ ck("IHDR") ++ ck("PLTE") ++ ck("PLTE") ++
        ck("tRNS") ++ ck("IDAT") ++ ck("IEND"))
    }
    assert(e3.getMessage.contains("multiple PLTE"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      ImageCodec.decode(png("IHDR", "PLTE", "IDAT", "tRNS", "IEND"))
    }
    assert(e4.getMessage.contains("tRNS after IDAT"), e4.getMessage)
    // the spec-ordered original still decodes
    assert(ImageCodec.decode(ipng).get.width == 2)

    // AVI: an audio strl whose strf PRECEDES its strh must not be
    // classified by the PREVIOUS (video) stream's type — pre-fix this
    // WAVEFORMATEX parsed as a BITMAPINFOHEADER (biSize=0x10001,
    // 8000x16000 "dims") and poisoned the video config
    val frames = Array(Array.tabulate(2 * 2 * 3)(i => i * 10))
    val good = VideoCodec.encodeAvi(2, 2, 40000, frames)
    val ins = ByteBuffer.allocate(8 + 4 + 48 + 64).order(ByteOrder.LITTLE_ENDIAN)
    ins.put("LIST".getBytes("US-ASCII")).putInt(4 + 48 + 64)
      .put("strl".getBytes("US-ASCII"))
    ins.put("strf".getBytes("US-ASCII")).putInt(40)
      .putShort(1).putShort(1)    // wFormatTag, nChannels
      .putInt(8000).putInt(16000) // nSamplesPerSec, nAvgBytesPerSec
      .putShort(1).putShort(16)   // nBlockAlign (= fake biPlanes 1!), bits
      .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    ins.put("strh".getBytes("US-ASCII")).putInt(56)
      .put("auds".getBytes("US-ASCII"))
    ins.put(new Array[Byte](52))
    val hdrlEnd = 12 + 8 + (4 + 64 + 124)
    val withAudio = new Array[Byte](good.length + ins.capacity())
    System.arraycopy(good, 0, withAudio, 0, hdrlEnd)
    System.arraycopy(ins.array(), 0, withAudio, hdrlEnd, ins.capacity())
    System.arraycopy(good, hdrlEnd, withAudio, hdrlEnd + ins.capacity(),
      good.length - hdrlEnd)
    val patch = ByteBuffer.wrap(withAudio).order(ByteOrder.LITTLE_ENDIAN)
    patch.putInt(4, patch.getInt(4) + ins.capacity())   // RIFF size
    patch.putInt(16, patch.getInt(16) + ins.capacity()) // hdrl LIST size
    val v = VideoCodec.decode(withAudio).get
    assert(v.width == 2 && v.height == 2 && v.frames.length == 1)
    assert(v.frames.head.rgb.toSeq == frames.head.toSeq)
  }
}
