package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Multimodal surface tests: real image/audio decoders (pure spec
  * implementations + JDK ImageIO codec path), frame featurization, the
  * visual/audio dedup pipelines, incremental media matching, media
  * scene detection, hostile-input hardening, and differential fuzzing
  * of the pure decoders against the JDK codecs.
  */
class MultimodalSpec extends SparkSpecBase {

  test("multimodal: real image-header decode (png/gif/bmp/jpeg) with stub fallback") {
    import graft.multimodal.BinaryPipeline
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = b(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, /* 640 */ 0, 0, 1, 0xe0 /* 480 */) ++ new Array[Byte](8)
    assert(BinaryPipeline.decodeImageHeader(png).contains(
      BinaryPipeline.MediaMeta("png", 640, 480, 1)))
    val gif = b('G', 'I', 'F', '8', '9', 'a',
      0x40, 0x01, /* 320 LE */ 0xc8, 0x00 /* 200 LE */) ++ new Array[Byte](6)
    assert(BinaryPipeline.decodeImageHeader(gif).contains(
      BinaryPipeline.MediaMeta("gif", 320, 200, 1)))
    val bmp = b('B', 'M') ++ new Array[Byte](16) ++
      b(0x20, 0x03, 0, 0, /* 800 LE */ 0xaf, 0xfd, 0xff, 0xff /* -593 -> 593 */)
    assert(BinaryPipeline.decodeImageHeader(bmp).contains(
      BinaryPipeline.MediaMeta("bmp", 800, 593, 1)))
    val jpg = b(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0, 0, // APP0 segment
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x01, 0xe0, 0x02, 0x80) ++ new Array[Byte](4)
    assert(BinaryPipeline.decodeImageHeader(jpg).contains(
      BinaryPipeline.MediaMeta("jpeg", 640, 480, 1)))
    // unrecognized bytes fall back to the deterministic stub
    val junk = Array.tabulate[Byte](40)(i => (i % 127).toByte)
    assert(BinaryPipeline.decodeImageHeader(junk).isEmpty)
    assert(BinaryPipeline.decodeMeta(junk) == BinaryPipeline.decodeStub(junk))
    // and the DataFrame operator lands the real header values
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("p1", png), ("g1", gif)).toDF("id", "bytes")
    val got = BinaryPipeline.decode(df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == Set(("p1", "png", 640, 480), ("g1", "gif", 320, 200)))
  }

  test("multimodal: REAL bmp pixel decode + grid-luma featurization (hand-built image)") {
    import graft.multimodal.BinaryPipeline
    // 2x2 24bpp BMP: top row white,black; bottom row red,green.
    // Rows stored bottom-up, BGR, stride padded to 4 bytes (6 -> 8).
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val header = Array[Byte]('B', 'M') ++ le32(70) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    assert(header.length == 54)
    val bottomRow = Array[Byte](0, 0, 255.toByte /* red BGR */ ,
      0, 255.toByte, 0 /* green */ , 0, 0)
    val topRow = Array[Byte](255.toByte, 255.toByte, 255.toByte /* white */ ,
      0, 0, 0 /* black */ , 0, 0)
    val bmp = header ++ bottomRow ++ topRow
    val Some((w, h, luma)) = BinaryPipeline.decodeBmpPixels(bmp)
    assert((w, h) == (2, 2))
    // top-down luma: white=255, black=0, red=76.245, green=149.685
    assert(luma(0) == 255.0 && luma(1) == 0.0)
    assert(math.abs(luma(2) - 76.245) < 1e-9 && math.abs(luma(3) - 149.685) < 1e-9)
    val f = BinaryPipeline.gridLumaFeature(w, h, luma, grid = 2)
    assert(f.toSeq == Seq(255.0f, 0.0f, 76.245f, 149.685f))
    assert(BinaryPipeline.featurize(bmp, 0, dim = 4).toSeq == f.toSeq)
    // non-BMP bytes keep the deterministic stub path
    val junk = Array.tabulate[Byte](64)(i => (i % 113).toByte)
    assert(BinaryPipeline.featurize(junk, 0, 8).toSeq ==
      BinaryPipeline.featurizeStub(junk, 0, 8).toSeq)
    // and the Dataset operator carries the real feature through
    val spark2 = spark
    import spark2.implicits._
    val frames = BinaryPipeline.sampleAndFeaturize(
      Seq(("img1", bmp)).toDF("id", "bytes"), stride = 1, dim = 4).collect()
    assert(frames.length == 1 && frames.head.feature.toSeq == f.toSeq)
  }

  test("multimodal: REAL png pixel decode (zlib inflate + all five unfilters)") {
    import graft.multimodal.BinaryPipeline
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }
    val pngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    // inverse filter (encoder side): filtered = raw - predictor mod 256
    def filterRow(f: Int, row: Array[Int], prev: Array[Int], bpp: Int): Array[Byte] =
      f.toByte +: row.indices.map { x =>
        val a = if (x >= bpp) row(x - bpp) else 0
        val b = prev(x); val c = if (x >= bpp) prev(x - bpp) else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        ((row(x) - pred) & 0xff).toByte
      }.toArray
    def makePng(w: Int, h: Int, colorType: Int, channels: Int,
                pixels: Array[Array[Int]], filters: Array[Int]): Array[Byte] = {
      val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, colorType.toByte, 0, 0, 0)
      var prev = Array.fill(w * channels)(0)
      val scan = pixels.zip(filters).flatMap { case (row, f) =>
        val out = filterRow(f, row, prev, channels); prev = row; out
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(scan); defl.finish()
      val buf = new Array[Byte](scan.length + 64)
      val n = defl.deflate(buf); defl.end()
      pngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", buf.take(n)) ++
        chunk("IEND", Array.empty)
    }
    // grayscale 3x4 exercising every filter type (None/Sub/Up/Avg/Paeth)
    val gray = Array(
      Array(10, 20, 250), Array(15, 130, 7), Array(200, 0, 99), Array(1, 255, 128))
    val png = makePng(3, 4, colorType = 0, channels = 1, gray,
      filters = Array(0, 1, 2, 4))
    val Some((w, h, luma)) = BinaryPipeline.decodeImageIOFrame(png, 0)
    assert((w, h) == (3, 4))
    assert(luma.toSeq == gray.flatten.map(_.toDouble).toSeq)
    // RGB 2x2 with Average filter: BT.601 luma, same as the BMP contract
    val rgb = Array(
      Array(255, 255, 255, 0, 0, 0),   // white, black
      Array(255, 0, 0, 0, 255, 0))     // red, green
    val png2 = makePng(2, 2, colorType = 2, channels = 3, rgb,
      filters = Array(0, 3))
    val Some((w2, h2, luma2)) = BinaryPipeline.decodeImageIOFrame(png2, 0)
    assert((w2, h2) == (2, 2))
    assert(luma2(0) == 255.0 && luma2(1) == 0.0)
    assert(math.abs(luma2(2) - 76.245) < 1e-9 && math.abs(luma2(3) - 149.685) < 1e-9)
    // RGBA: alpha ignored for luma
    val rgba = Array(Array(255, 0, 0, 7, 0, 255, 0, 200))
    val Some((_, _, luma3)) = BinaryPipeline.decodeImageIOFrame(
      makePng(2, 1, colorType = 6, channels = 4, rgba, filters = Array(4)), 0)
    assert(math.abs(luma3(0) - 76.245) < 1e-9 && math.abs(luma3(1) - 149.685) < 1e-9)
    // featurize takes the REAL png path
    assert(BinaryPipeline.featurize(png2, 0, dim = 4).toSeq ==
      BinaryPipeline.gridLumaFeature(2, 2, luma2, grid = 2).toSeq)
    // corrupt/hostile inputs fall back cleanly: truncated IDAT, forged
    // huge IHDR (must not allocate)
    assert(BinaryPipeline.decodeImageIOFrame(png.dropRight(30), 0).isEmpty)
    val forged = pngSig ++ chunk("IHDR",
      be32(1 << 20) ++ be32(1 << 20) ++ Array[Byte](8, 0, 0, 0, 0)) ++
      chunk("IEND", Array.empty)
    assert(BinaryPipeline.decodeImageIOFrame(forged, 0).isEmpty)
    // the pixel cap is checked on the header dims BEFORE the reader
    // allocates: 8192x8193 RGB (one row past 2^26 pixels) with a tiny
    // IDAT must fall back to the stub without a ~192 MiB raster
    val tinyIdat = {
      val defl = new java.util.zip.Deflater()
      defl.setInput(new Array[Byte](64)); defl.finish()
      val buf = new Array[Byte](64)
      val n = defl.deflate(buf); defl.end()
      buf.take(n)
    }
    val overCap = pngSig ++ chunk("IHDR",
      be32(8192) ++ be32(8193) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", tinyIdat) ++ chunk("IEND", Array.empty)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = threads.getThreadAllocatedBytes(tid)
    val capped = BinaryPipeline.featurize(overCap, 0, dim = 4)
    val allocated = threads.getThreadAllocatedBytes(tid) - before
    assert(capped.toSeq == BinaryPipeline.featurizeStub(overCap, 0, dim = 4).toSeq)
    assert(allocated < (16L << 20), s"over-cap png allocated $allocated bytes")
    // gray is read raw, never through getRGB's linear-to-sRGB gamma: the
    // same gray image written plain and Adam7-interlaced features
    // identically, as the grid mean of its raw samples
    val grayImg = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = grayImg.getRaster
    val samples = Array.tabulate(6, 8)((y, x) => (y * 41 + x * 29 + 10) % 256)
    (0 until 6).foreach(y => (0 until 8).foreach(x => raster.setSample(x, y, 0, samples(y)(x))))
    def writeGray(mode: Int): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(mode)
        writer.write(null, new javax.imageio.IIOImage(grayImg, null, null), param)
      } finally { ios.close(); writer.dispose() }
      bos.toByteArray
    }
    val plainPng = writeGray(javax.imageio.ImageWriteParam.MODE_DISABLED)
    val adam7Png = writeGray(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    assert(plainPng(28) == 0 && adam7Png(28) == 1) // IHDR interlace method
    val plain = BinaryPipeline.featurize(plainPng, 0, dim = 4)
    val adam7 = BinaryPipeline.featurize(adam7Png, 0, dim = 4)
    val rawMean = BinaryPipeline.gridLumaFeature(8, 6,
      samples.flatten.map(_.toDouble), grid = 2)
    assert(plain.toSeq == adam7.toSeq, s"plain ${plain.toSeq} vs adam7 ${adam7.toSeq}")
    assert(plain.toSeq == rawMean.toSeq, s"got ${plain.toSeq}, raw grid mean ${rawMean.toSeq}")
  }

  test("multimodal: REAL gif pixel decode (from-scratch LZW incl. KwKwK + code-width growth)") {
    import graft.multimodal.BinaryPipeline
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    // LSB-first bit writer emitting codes at the decoder's expected width
    final class LzwWriter(minCodeSize: Int) {
      private val bits = scala.collection.mutable.ArrayBuffer[Int]()
      private val clear = 1 << minCodeSize
      private var codeSize = minCodeSize + 1
      private var dictSize = clear + 2
      private var prev = -1
      def writeCode(c: Int): Unit = {
        (0 until codeSize).foreach(i => bits += ((c >> i) & 1))
        if (c == clear) { codeSize = minCodeSize + 1; dictSize = clear + 2; prev = -1 }
        else if (prev == -1) prev = c
        else {
          dictSize += 1 // decoder adds one entry per non-first code
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
          prev = c
        }
      }
      def bytes: Array[Byte] = bits.grouped(8).map(g =>
        g.zipWithIndex.map { case (b, i) => b << i }.sum.toByte).toArray
    }
    // palette: 0=black, 1=white, 2=red, 3=green (global color table)
    val palette = Array[Byte](0, 0, 0, 255.toByte, 255.toByte, 255.toByte,
      255.toByte, 0, 0, 0, 255.toByte, 0)
    def makeGif(w: Int, h: Int, pixels: Array[Int],
                lzw: Array[Byte]): Array[Byte] =
      "GIF89a".getBytes("US-ASCII") ++ le16(w) ++ le16(h) ++
        Array[Byte](0x91.toByte /* GCT, 4 entries (2<<1) */, 0, 0) ++ palette ++
        // graphic-control extension (skipped by the decoder)
        Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0) ++
        Array[Byte](0x2c) ++ le16(0) ++ le16(0) ++ le16(w) ++ le16(h) ++
        Array[Byte](0 /* no LCT, not interlaced */, 2 /* minCodeSize */) ++
        Array[Byte](lzw.length.toByte) ++ lzw ++ Array[Byte](0, 0x3b)
    // 12 literal pixels: enough non-first codes to push dictSize past 8,
    // exercising the 3->4 bit code-width growth mid-stream
    val px = Array(0, 1, 2, 3, 3, 2, 1, 0, 1, 1, 2, 0)
    val wr = new LzwWriter(2)
    wr.writeCode(4) // clear
    px.foreach(wr.writeCode)
    wr.writeCode(5) // EOI
    val gif = makeGif(4, 3, px, wr.bytes)
    val Some((w, h, luma)) = BinaryPipeline.decodeGifPixels(gif)
    assert((w, h) == (4, 3))
    val lumaOf = Array(0.0, 255.0, 76.245, 149.685)
    px.indices.foreach(i => assert(math.abs(luma(i) - lumaOf(px(i))) < 1e-9, s"px $i"))
    // KwKwK case: stream [clear, 1, 6] decodes to white,white,white
    // (code 6 == dictSize names the entry being defined)
    val wr2 = new LzwWriter(2)
    wr2.writeCode(4); wr2.writeCode(1); wr2.writeCode(6); wr2.writeCode(5)
    val Some((_, _, luma2)) = BinaryPipeline.decodeGifPixels(makeGif(3, 1, null, wr2.bytes))
    assert(luma2.toSeq == Seq(255.0, 255.0, 255.0))
    // featurize takes the real GIF path
    assert(BinaryPipeline.featurize(gif, 0, dim = 4).toSeq ==
      BinaryPipeline.gridLumaFeature(w, h, luma, grid = 2).toSeq)
    // corrupt inputs fall back cleanly: truncated stream
    assert(BinaryPipeline.decodeGifPixels(gif.dropRight(6)).isEmpty)
    // interlace flag = 4-pass row permutation on assembly: for h=3 the
    // transmission rows [0,1,2] land on actual rows [0,2,1]
    val interlaced = gif.clone()
    interlaced(13 + palette.length + 8 + 9) = 0x40.toByte // image-desc packed
    val Some((_, _, il)) = BinaryPipeline.decodeGifPixels(interlaced)
    val rows = luma.grouped(4).toArray
    assert(il.toSeq == (rows(0) ++ rows(2) ++ rows(1)).toSeq)
  }

  test("multimodal: JDK ImageIO codec path — jpeg decode, animated-gif frames, pure==codec parity") {
    import graft.multimodal.BinaryPipeline
    // jpeg: encode a half-white/half-black image with the JDK writer,
    // decode through the pipeline (lossy -> tolerance)
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(y => (0 until 16).foreach(x =>
      img.setRGB(x, y, if (x < 8) 0xffffff else 0x000000)))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val jpeg = bos.toByteArray
    val meta = BinaryPipeline.decodeMeta(jpeg)
    assert(meta.format == "jpeg" && meta.width == 16 && meta.height == 16 &&
      meta.nFrames == 1)
    val Some((jw, jh, jluma)) = BinaryPipeline.decodeImageIOFrame(jpeg, 0)
    assert((jw, jh) == (16, 16))
    val f = BinaryPipeline.featurize(jpeg, 0, dim = 4)
    assert(f(0) > 200f && f(2) > 200f, s"left cells white-ish: ${f.toSeq}")
    assert(f(1) < 55f && f(3) < 55f, s"right cells black-ish: ${f.toSeq}")
    // animated gif (two 1x1 frames, black then white): REAL frame count
    // + per-frame decode — the video-frame analog
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val palette = Array[Byte](0, 0, 0, 255.toByte, 255.toByte, 255.toByte,
      0, 0, 0, 0, 0, 0)
    def frameBlock(pix: Int): Array[Byte] = {
      // codes at width 3 (minCodeSize 2): clear=4, pixel, eoi=5 -> 9 bits
      val bits = Seq(4, pix, 5).flatMap(c => (0 until 3).map(i => (c >> i) & 1))
      val lzw = bits.grouped(8).map(g =>
        g.zipWithIndex.map { case (b, i) => b << i }.sum.toByte).toArray
      Array[Byte](0x2c) ++ le16(0) ++ le16(0) ++ le16(1) ++ le16(1) ++
        Array[Byte](0, 2, lzw.length.toByte) ++ lzw ++ Array[Byte](0)
    }
    val anim = "GIF89a".getBytes("US-ASCII") ++ le16(1) ++ le16(1) ++
      Array[Byte](0x91.toByte, 0, 0) ++ palette ++
      frameBlock(0) ++ frameBlock(1) ++ Array[Byte](0x3b)
    val ameta = BinaryPipeline.decodeMeta(anim)
    assert(ameta.format == "gif" && ameta.nFrames == 2, s"got $ameta")
    assert(BinaryPipeline.decodeImageIOFrame(anim, 0).exists(_._3.head == 0.0))
    assert(BinaryPipeline.decodeImageIOFrame(anim, 1).exists(_._3.head == 255.0))
    assert(BinaryPipeline.decodeImageIOFrame(anim, 2).isEmpty)
    // one row per frame through the Dataset operator, distinct features
    val spark2 = spark
    import spark2.implicits._
    val frames = BinaryPipeline.sampleAndFeaturize(
      Seq(("anim", anim)).toDF("id", "bytes"), stride = 1, dim = 1)
      .collect().sortBy(_.frameIdx)
    assert(frames.map(_.frameIdx).toSeq == Seq(0, 1))
    assert(frames(0).feature.head == 0.0f && frames(1).feature.head == 255.0f)
    // parity: the same image written as BMP (hand-written decoder) and
    // as PNG (ImageIO) decodes to identical luma
    def write(fmt: String): Array[Byte] = {
      val bos2 = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos2))
      bos2.toByteArray
    }
    val pure = BinaryPipeline.decodeBmpPixels(write("bmp"))
    val codec = BinaryPipeline.decodeImageIOFrame(write("png"), 0)
    assert(pure.isDefined && codec.isDefined)
    assert(pure.get._3.toSeq == codec.get._3.toSeq)
  }

  test("multimodal: visual near-dup pipeline on real pixels (the reference's own domain)") {
    import graft.multimodal.BinaryPipeline
    def makePng(pattern: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 16).foreach(y => (0 until 16).foreach(x =>
        img.setRGB(x, y, pattern(x, y))))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val leftWhite = makePng((x, _) => if (x < 8) 0xffffff else 0)
    // near-dup of leftWhite: two pixels flipped
    val leftWhite2 = makePng((x, y) =>
      if ((x, y) == (0, 0) || (x, y) == (15, 15)) 0x808080
      else if (x < 8) 0xffffff else 0)
    val topWhite = makePng((_, y) => if (y < 8) 0xffffff else 0)
    val topWhite2 = makePng((x, y) =>
      if ((x, y) == (3, 3)) 0x404040 else if (y < 8) 0xffffff else 0)
    val gradient = makePng((x, y) => { val v = (x * 16) & 0xff; (v << 16) | (v << 8) | v })
    val spark2 = spark
    import spark2.implicits._
    val media = Seq(("a1", leftWhite), ("a2", leftWhite2), ("b1", topWhite),
      ("b2", topWhite2), ("c1", gradient)).toDF("id", "bytes")
    val pairs = BinaryPipeline.mediaDuplicatePairs(media, threshold = 0.99)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a1", "a2"), ("b1", "b2")), s"got $got")
    val clusters = graft.pipeline.Dedup.clusters(pairs)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(clusters == Map("a1" -> "a1", "a2" -> "a1", "b1" -> "b1", "b2" -> "b1"))
    // sanity: the cross-pattern cosine really is far from the threshold
    // (left-half vs top-half grids overlap on one quadrant -> ~0.5)
    val emb = BinaryPipeline.itemEmbedding(
      BinaryPipeline.sampleAndFeaturize(media, stride = 1, dim = 16))
      .select(col("id"),
        expr("transform(embedding, x -> cast(x as float))").as("embedding"))
    val topk = graft.functions.Embeddings.bruteForceTopK(emb, emb, 4)
    val cross = topk.where(col("query_id") === "a1" && col("neighbor_id") === "b1")
      .select("cosine").collect().head.getDouble(0)
    assert(cross < 0.7, s"distinct patterns must stay below threshold: $cross")
  }

  test("multimodal: srpTopK swap works on media embeddings; mediaKeepList keeps highest resolution") {
    import graft.multimodal.BinaryPipeline
    import graft.functions.Embeddings
    val spark2 = spark
    import spark2.implicits._
    // grid-luma pooling is resolution-invariant for block patterns, so
    // the same pattern at 16x16 and 32x32 lands in one duplicate group
    def makePng(size: Int, pattern: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(size, size,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until size).foreach(y => (0 until size).foreach(x =>
        img.setRGB(x, y, pattern(x * 16 / size, y * 16 / size))))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val left = (x: Int, _: Int) => if (x < 8) 0xffffff else 0
    val top = (_: Int, y: Int) => if (y < 8) 0xffffff else 0
    val media = Seq(
      ("a_small", makePng(16, left)), ("a_big", makePng(32, left)),
      ("b_small", makePng(16, top)), ("b_big", makePng(32, top))
    ).toDF("id", "bytes")
    val pairs = BinaryPipeline.mediaDuplicatePairs(media, threshold = 0.99)
    val clusters = graft.pipeline.Dedup.clusters(pairs)
    val keep = BinaryPipeline.mediaKeepList(media, clusters)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(keep == Map("a_small" -> false, "a_big" -> true,
      "b_small" -> false, "b_big" -> true), s"got $keep")
    // srpTopK (the documented scale swap) finds every planted media
    // near-dup pair that the threshold-complete scan finds
    val groups = 60
    val mediaN = (0 until groups * 3).map(i =>
      (i.toString, BinaryPipeline.syntheticBmp(i / 3, i % 3 + 1))).toDF("id", "bytes")
    val emb = BinaryPipeline.itemEmbedding(
        BinaryPipeline.sampleAndFeaturize(mediaN, stride = 1, dim = 16))
      .select(col("id"),
        expr("transform(embedding, x -> cast(x as float))").as("embedding"))
      .localCheckpoint(true)
    val want = Embeddings.bruteForceThresholdPairs(emb, 0.9995)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(want.size == groups * 3, s"planted pairs: ${want.size}") // C(3,2)=3 per group
    val gotSrp = Embeddings.srpTopK(emb, k = 4, bits = 8, tables = 4)
      .where(col("cosine") >= 0.9995 && col("query_id") < col("neighbor_id"))
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val recall = (want & gotSrp).size.toDouble / want.size
    assert(recall >= 0.95, s"srp recall on media embeddings: $recall")
    // the k-cap-free threshold variant (the TRUE scale swap for
    // threshold dedup): at least the same recall, exact precision
    // (verification inside the bucket join), canonical pairs
    val gotThr = Embeddings.srpThresholdPairs(emb, 0.9995, bits = 8, tables = 4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotThr.subsetOf(want), s"false positives: ${gotThr -- want}")
    val recallThr = (want & gotThr).size.toDouble / want.size
    assert(recallThr >= 0.95, s"srpThresholdPairs recall: $recallThr")
  }

  test("incremental media matching equals the full-batch pair set (new batch broadcast, store scanned)") {
    import graft.multimodal.BinaryPipeline
    val spark2 = spark
    import spark2.implicits._
    val tau = SparkEntry.mediaDedupThreshold
    // 40 groups x 3 variants, split across two ingest batches so many
    // groups straddle the batch boundary (the cross-batch join matters)
    val all = (0 until 120).map(i =>
      (i.toString, BinaryPipeline.syntheticBmp(i / 3, i % 3 + 1)))
    val batch1 = all.filter { case (id, _) => id.toLong % 2 == 0 }
    val batch2 = all.filter { case (id, _) => id.toLong % 2 == 1 }
    def embOf(rows: Seq[(String, Array[Byte])]) =
      BinaryPipeline.mediaEmbeddings(rows.toDF("id", "bytes")).localCheckpoint(true)
    val e1 = embOf(batch1); val e2 = embOf(batch2)
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val full = ps(BinaryPipeline.mediaDuplicatePairs(all.toDF("id", "bytes"), tau))
    // ingest batch1 into an empty store, then batch2 against the store
    val inc1 = ps(BinaryPipeline.incrementalMediaPairs(e1, e1.limit(0), tau))
    val inc2 = ps(BinaryPipeline.incrementalMediaPairs(e2, e1, tau))
    assert(inc1.intersect(inc2).isEmpty)
    assert((inc1 ++ inc2) == full,
      s"missing=${full -- inc1 -- inc2} extra=${(inc1 ++ inc2) -- full}")
    assert(full.size == 40 * 3) // C(3,2)=3 pairs per planted group
  }

  test("multimodal: scene detection over real animated-gif frames (frame-distance cuts)") {
    import graft.multimodal.BinaryPipeline
    val spark2 = spark
    import spark2.implicits._
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    // 4x4 frames over a 2-color palette; literal-code LZW (16 pixels +
    // clear + eoi stays within 3-bit codes after growth handling)
    def frameBlock(pix: Seq[Int]): Array[Byte] = {
      var codeSize = 3; var dictSize = 6
      val bits = scala.collection.mutable.ArrayBuffer[Int]()
      var first = true
      (4 +: pix :+ 5).foreach { c =>
        (0 until codeSize).foreach(i => bits += ((c >> i) & 1))
        if (c != 4) {
          if (first) first = false
          else {
            dictSize += 1
            if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
        }
      }
      val lzw = bits.grouped(8).map(g =>
        g.zipWithIndex.map { case (b, i) => b << i }.sum.toByte).toArray
      Array[Byte](0x2c) ++ le16(0) ++ le16(0) ++ le16(4) ++ le16(4) ++
        Array[Byte](0, 2, lzw.length.toByte) ++ lzw ++ Array[Byte](0)
    }
    val leftWhite = (0 until 16).map(i => if (i % 4 < 2) 1 else 0)
    val topWhite = (0 until 16).map(i => if (i / 4 < 2) 1 else 0)
    val palette = Array[Byte](0, 0, 0, 255.toByte, 255.toByte, 255.toByte,
      0, 0, 0, 0, 0, 0)
    // 6 frames: 3x scene A (left-white), then 3x scene B (top-white)
    val gif = "GIF89a".getBytes("US-ASCII") ++ le16(4) ++ le16(4) ++
      Array[Byte](0x91.toByte, 0, 0) ++ palette ++
      (Seq.fill(3)(frameBlock(leftWhite)) ++ Seq.fill(3)(frameBlock(topWhite)))
        .reduce(_ ++ _) ++ Array[Byte](0x3b)
    assert(BinaryPipeline.decodeMeta(gif).nFrames == 6)
    val scenes = BinaryPipeline.mediaScenes(
        Seq(("vid", gif)).toDF("id", "bytes"), stride = 1, dim = 4)
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getInt(3), r.getInt(4))))
      .toMap // seg_id -> (n_frames, frame_min, frame_max)
    assert(scenes == Map(0L -> ((3L, 0, 2)), 1L -> ((3L, 3, 5))),
      s"expected two 3-frame scenes cut at frame 3: $scenes")
  }

  test("multimodal: real WAV/PCM decode + audio near-dup through the shared frame pipeline") {
    import graft.multimodal.BinaryPipeline
    import graft.functions.Embeddings
    val spark2 = spark
    import spark2.implicits._
    def le16b(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32b(v: Int) = le16b(v & 0xffff) ++ le16b((v >> 16) & 0xffff)
    def makeWav(freq: Double, amp: Double, rate: Int = 8000,
                seconds: Double = 0.5): Array[Byte] = {
      val n = (rate * seconds).toInt
      val data = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val v = (amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toInt
        data(i * 2) = (v & 0xff).toByte
        data(i * 2 + 1) = ((v >> 8) & 0xff).toByte
      }
      "RIFF".getBytes("US-ASCII") ++ le32b(36 + data.length) ++
        "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32b(16) ++ le16b(1) ++ le16b(1) ++
        le32b(rate) ++ le32b(rate * 2) ++ le16b(2) ++ le16b(16) ++
        "data".getBytes("US-ASCII") ++ le32b(data.length) ++ data
    }
    // decode roundtrip: rate + sample values recovered
    val wav = makeWav(440.0, 0.5)
    val Some((rate, pcm)) = BinaryPipeline.decodeWavPcm(wav)
    assert(rate == 8000 && pcm.length == 4000)
    assert(math.abs(pcm(0)) < 1e-4) // sin(0) = 0
    assert(pcm.max > 0.49 && pcm.min < -0.49)
    // near-dup audio: same pitch at slightly different loudness pairs up;
    // the octave-apart clip (2x zero-crossing rate) stays out
    val media = Seq(
      ("tone_a", makeWav(440.0, 0.5)), ("tone_a2", makeWav(440.0, 0.52)),
      ("tone_b", makeWav(880.0, 0.5))).toDF("id", "bytes")
    val emb = BinaryPipeline.itemEmbedding(BinaryPipeline.audioFrames(media))
      .select(col("id"),
        expr("transform(embedding, x -> cast(x as float))").as("embedding"))
    val pairs = Embeddings.bruteForceThresholdPairs(emb, 0.999)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.map(p => (p._1, p._2)) == Set(("tone_a", "tone_a2")), s"got $pairs")
    // undecodable bytes fall back to one stub frame
    val junk = Array.tabulate[Byte](100)(i => (i * 7).toByte)
    val stubFrames = BinaryPipeline.audioFrames(
      Seq(("x", junk)).toDF("id", "bytes")).collect()
    assert(stubFrames.length == 1 &&
      stubFrames.head.feature.toSeq ==
        BinaryPipeline.featurizeStub(junk, 0, BinaryPipeline.AudioFeatureDim).toSeq)
  }

  test("multimodal hardening: null/empty/junk bytes flow through without errors") {
    import graft.multimodal.BinaryPipeline
    val spark2 = spark
    import spark2.implicits._
    val media = Seq(
      ("nul", null.asInstanceOf[Array[Byte]]),
      ("empty", Array.empty[Byte]),
      ("junk", Array.tabulate[Byte](64)(i => (i * 13).toByte)),
      ("real", BinaryPipeline.syntheticBmp(1L, 1))
    ).toDF("id", "bytes")
    val meta = BinaryPipeline.decode(media).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(meta("nul") == "empty" && meta("empty") == "empty" &&
      meta("real") == "bmp")
    val frames = BinaryPipeline.sampleAndFeaturize(media, stride = 1, dim = 4)
      .collect().groupBy(_.id)
    assert(frames.contains("real") && frames.contains("junk"))
    // TOTALITY: every input item emits at least one (stub) frame — an
    // item that decodes to zero frames must not silently vanish from
    // the frame table while still appearing in decode()
    assert(frames.contains("nul") && frames.contains("empty"),
      "zero-frame media must emit a stub frame, not disappear")
    // pair search over the mixed table: no crash, only real-vs-real space
    assert(BinaryPipeline.mediaDuplicatePairs(media, threshold = 0.9999).count() == 0)
    // audio path on the same hostile inputs
    val af = BinaryPipeline.audioFrames(media).collect().groupBy(_.id)
    assert(af("junk").length == 1) // stub frame
    // a VALID wav with an EMPTY data chunk: stub frame with finite
    // features — a forced zero-length window would emit NaN, and NaN
    // cosines compare greater than any threshold in Spark SQL (the item
    // would pair with everything in its LSH bucket)
    val emptyWav = {
      val out = new java.io.ByteArrayOutputStream()
      def le32(v: Int) = (0 until 4).foreach(i => out.write((v >> (8 * i)) & 0xff))
      def le16(v: Int) = (0 until 2).foreach(i => out.write((v >> (8 * i)) & 0xff))
      out.write("RIFF".getBytes); le32(36); out.write("WAVE".getBytes)
      out.write("fmt ".getBytes); le32(16); le16(1); le16(1)
      le32(8000); le32(16000); le16(2); le16(16)
      out.write("data".getBytes); le32(0)
      out.toByteArray
    }
    val wavFrames = BinaryPipeline.audioFrames(
      Seq(("w0", emptyWav)).toDF("id", "bytes")).collect()
    assert(wavFrames.length == 1 &&
      wavFrames(0).feature.forall(f => !f.isNaN && !f.isInfinite),
      "empty-data wav must take the stub path, never NaN features")
    // JPEG fill bytes before a marker are legal: dims still parse
    val filledJpeg = Array[Int](0xff, 0xd8, 0xff, 0xff, 0xff, 0xc0,
      0x00, 0x0b, 0x08, 0x00, 0x10, 0x00, 0x20, 0x01, 0x01, 0x11, 0x00)
      .map(_.toByte)
    val jm = BinaryPipeline.decodeMeta(filledJpeg)
    assert(jm.format == "jpeg" && jm.width == 0x20 && jm.height == 0x10,
      s"fill-byte jpeg misparsed: $jm")
  }

  test("MediaDedupJob: durable media pipeline, exact==lsh keep decisions on planted groups") {
    import graft.multimodal.BinaryPipeline
    val spark2 = spark
    import spark2.implicits._
    val media = (0 until 90).map(i =>
      (i.toString, BinaryPipeline.syntheticBmp(i / 3, i % 3 + 1))).toDF("id", "bytes")
    val mediaDir = java.nio.file.Files.createTempDirectory("graft-mediain").toString
    media.write.mode("overwrite").parquet(mediaDir)
    val work = java.nio.file.Files.createTempDirectory("graft-mediajob").toString
    def keepSet(mode: String) =
      MediaDedupJob.run(spark.read.parquet(mediaDir), work,
          threshold = SparkEntry.mediaDedupThreshold, mode = mode)
        .collect().map(r => (r.getString(0), r.getBoolean(3))).toSet
    val exact = keepSet("exact")
    // 30 planted groups of 3 -> exactly 30 keepers
    assert(exact.count(_._2) == 30, s"keepers: ${exact.count(_._2)}")
    assert(exact.size == 90)
    // the LSH mode reproduces the same durable keep decisions here
    // (recall ~1 at cos ~1), under its own config tag
    assert(keepSet("lsh") == exact)
    // artifacts are tag-stamped per mode
    val tags = new java.io.File(s"$work/keep").listFiles().map(_.getName).toSet
    assert(tags.size == 2, s"expected two tag dirs: $tags")
  }

  test("differential: pure spec decoders bit-equal the JDK codecs on randomized images") {
    import graft.multimodal.BinaryPipeline
    val rnd = new scala.util.Random(77L)
    def write(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"writer for $fmt")
      bos.toByteArray
    }
    var gifDecoded = 0
    for (t <- 0 until 10) {
      val w = 1 + rnd.nextInt(40); val h = 1 + rnd.nextInt(40)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x =>
        img.setRGB(x, y, rnd.nextInt(1 << 24))))
      for ((fmt, pure) <- Seq(
        ("bmp", BinaryPipeline.decodeBmpPixels _),
        ("gif", BinaryPipeline.decodeGifPixels _))) {
        val bytes = write(img, fmt)
        val codec = BinaryPipeline.decodeImageIOFrame(bytes, 0)
        assert(codec.isDefined, s"$fmt t=$t codec decode")
        pure(bytes) match {
          case Some((pw, ph, pl)) =>
            assert((pw, ph) == (w, h), s"$fmt t=$t dims")
            assert(pl.toSeq == codec.get._3.toSeq, s"$fmt t=$t luma mismatch")
            if (fmt == "gif") gifDecoded += 1
          case None =>
            // only acceptable for layouts the pure decoder declares out of
            // scope; the JDK writer emits 24bpp BMP, so that must always
            // take the pure path
            assert(fmt == "gif", s"$fmt t=$t pure decoder refused a JDK-written file")
        }
      }
    }
    // the JDK gif writer emits real LZW (dictionary hits, not literals):
    // the from-scratch decoder must handle at least most of them
    assert(gifDecoded >= 8, s"pure gif decoder handled only $gifDecoded/10")
  }
}
