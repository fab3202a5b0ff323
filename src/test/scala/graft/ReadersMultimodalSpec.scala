package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import graft.io.Readers
import graft.schemas.Bronze

class ReadersMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("CSV roundtrip with explicit schema; corrupt rows land in-band") {
    val dir = Files.createTempDirectory("csv").toString
    // bronze generator output → CSV → read back with the bronze schema
    graft.generator.DataGenerator.transactions(spark, 100, 20, 5)
      .coalesce(1).write.option("header", "true").csv(s"$dir/txns")
    // cache: Spark disallows corrupt-record-only queries on raw file scans
    val back = Readers.readCsv(spark, s"$dir/txns",
      schema = Some(Bronze.transactions)).cache()
    assert(back.count() == 100)
    assert(back.columns.contains(Readers.CorruptRecordColumn))
    assert(back.filter(col(Readers.CorruptRecordColumn).isNotNull).count() == 0)
  }

  test("CSV schema inference fallback works") {
    val dir = Files.createTempDirectory("csv2").toString
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.option("header", "true").csv(s"$dir/t")
    val back = Readers.readCsv(spark, s"$dir/t")
    assert(back.count() == 2)
    assert(back.schema("id").dataType.typeName == "integer")
  }

  test("JSON lines + corrupt record capture") {
    val dir = Files.createTempDirectory("json").toString
    val f = new java.io.PrintWriter(s"$dir/data.json")
    f.println("""{"id": 1, "v": "ok"}""")
    f.println("""{"id": 2, "v": "also ok"}""")
    f.println("""{not valid json at all""")
    f.close()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    val back = Readers.readJson(spark, s"$dir/data.json",
      schema = Some(schema)).cache()
    assert(back.count() == 3)
    assert(back.filter(col(Readers.CorruptRecordColumn).isNotNull).count() == 1)
  }

  test("ORC roundtrip preserves schema and rows") {
    val dir = Files.createTempDirectory("orc").toString
    val o = Tables.load(spark, sfDir, "orders")
    o.write.orc(s"$dir/orders")
    val back = Readers.readOrc(spark, s"$dir/orders")
    assert(back.count() == o.count())
    assert(back.schema == o.schema)
  }

  test("text source reads lines and whole files") {
    val dir = Files.createTempDirectory("txt").toString
    val f = new java.io.PrintWriter(s"$dir/doc1.txt")
    f.println("line one"); f.println("line two"); f.close()
    assert(Readers.readText(spark, s"$dir/doc1.txt").count() == 2)
    val whole = Readers.readText(spark, s"$dir/doc1.txt", wholeFile = true)
    assert(whole.count() == 1)
    assert(whole.head().getString(0).contains("line two"))
  }

  test("readTable enforces path XOR tableName") {
    intercept[IllegalArgumentException] {
      Readers.readTable(spark, None, None)
    }
    intercept[IllegalArgumentException] {
      Readers.readTable(spark, Some("p"), Some("t"))
    }
  }

  test("multimodal: batched feature extraction is deterministic and total") {
    val docs = Tables.load(spark, sfDir, "documents")
    val assets = Multimodal.assetsFromDocuments(spark, docs)
    val feats = Multimodal.extractFeatures(assets)
    assert(feats.count() == docs.count())
    val f = feats.filter(col("asset_id") === 0).head()
    val f2 = Multimodal.extractFeatures(assets).filter(col("asset_id") === 0).head()
    assert(f == f2)
    assert(f.n_bytes > 0 && f.width >= 64 && f.height >= 64)
    // images have no duration; audio/video do
    assert(feats.filter(col("media_type") === "image" && col("duration_ms") =!= 0)
      .count() == 0)
  }

  test("multimodal: real PNG payloads decode to true dimensions and intensity") {
    // encode an actual PNG (JDK codec) — 80×40, uniform gray (100,100,100):
    // ITU-R 601 luminance of that pixel is exactly 100.0
    val img = new java.awt.image.BufferedImage(
      80, 40, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (100 << 16) | (100 << 8) | 100
    for (y <- 0 until 40; x <- 0 until 80) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val assets = Seq(
      Multimodal.MediaAsset(1L, "image", png, "test://png", png.length.toLong),
      // text bytes are not a decodable image → deterministic stub fallback
      Multimodal.MediaAsset(2L, "image", "not an image".getBytes("UTF-8"),
        "test://txt", 12L)).toDS()
    val feats = Multimodal.extractFeatures(assets)
      .collect().map(f => f.asset_id -> f).toMap
    assert(feats(1L).width == 80 && feats(1L).height == 40)
    assert(math.abs(feats(1L).mean_intensity - 100.0) < 1e-9)
    assert(feats(1L).duration_ms == 0L)
    // fallback keeps the stub's derived pseudo-dimensions
    assert(feats(2L).width >= 64 && feats(2L).height >= 64)
  }

  test("multimodal: real WAV payloads decode rate/channels/duration/amplitude") {
    // encode an actual 1-second 8kHz mono 16-bit PCM WAV (JDK codec):
    // a 440 Hz sine at half amplitude → mean |amplitude| = (2/π)·0.5
    val rate = 8000f
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val nFrames = 8000
    val data = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 16384).toInt.toShort
      data(2 * i) = (s & 0xFF).toByte
      data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val assets = Seq(
      Multimodal.MediaAsset(1L, "audio", wav, "test://wav", wav.length.toLong),
      // text bytes are not decodable audio → deterministic stub fallback
      Multimodal.MediaAsset(2L, "audio", "not audio".getBytes("UTF-8"),
        "test://txt", 9L)).toDS()
    val feats = Multimodal.extractFeatures(assets)
      .collect().map(f => f.asset_id -> f).toMap
    assert(feats(1L).width == 8000)        // sample rate
    assert(feats(1L).height == 1)          // channels
    assert(feats(1L).duration_ms == 1000L)
    assert(math.abs(feats(1L).mean_intensity - (2 / math.Pi) * 0.5) < 0.01)
    assert(feats(2L).duration_ms != 1000L) // stub-derived, not a real parse
  }

  test("multimodal: audio SPI providers load through the context class " +
    "loader, else the system loader") {
    // only this child loader registers the probe reader
    val dir = Files.createTempDirectory("spi")
    val services = dir.resolve("META-INF/services")
    Files.createDirectories(services)
    Files.write(services.resolve(
      classOf[javax.sound.sampled.spi.AudioFileReader].getName),
      classOf[ProbeAudioReader].getName.getBytes("UTF-8"))
    val child = new java.net.URLClassLoader(Array(dir.toUri.toURL),
      getClass.getClassLoader)
    def readers = Multimodal
      .audioProviders(classOf[javax.sound.sampled.spi.AudioFileReader])
      .map(_.getClass.getName)
    val thread = Thread.currentThread
    val prev = thread.getContextClassLoader
    try {
      thread.setContextClassLoader(child)
      assert(Multimodal.spiLoader() eq child)
      assert(readers.contains(classOf[ProbeAudioReader].getName))
      // the JDK's own readers are still found (WAV lives there)
      assert(readers.exists(_.contains("Wave")), readers)
      thread.setContextClassLoader(null)
      assert(Multimodal.spiLoader() eq ClassLoader.getSystemClassLoader)
      assert(!readers.contains(classOf[ProbeAudioReader].getName))
      assert(readers.exists(_.contains("Wave")), readers)
    } finally {
      thread.setContextClassLoader(prev)
      child.close()
    }
  }

  test("multimodal: decompression-bomb image falls back to the stub") {
    // hand-crafted PNG header declaring 60000x60000 — ImageIO reads the
    // dimensions from the IHDR without decoding; the guard must refuse
    // to materialize the ~14GB raster and fall back deterministically
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    val ihdr = new java.io.ByteArrayOutputStream()
    ihdr.write("IHDR".getBytes("US-ASCII"))
    val dims = java.nio.ByteBuffer.allocate(8).putInt(60000).putInt(60000).array()
    ihdr.write(dims)
    ihdr.write(Array[Byte](8, 2, 0, 0, 0)) // bit depth 8, RGB
    val body = ihdr.toByteArray
    val len = java.nio.ByteBuffer.allocate(4).putInt(13).array()
    bos.write(len)
    bos.write(body)
    val crc = new java.util.zip.CRC32(); crc.update(body)
    bos.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    val bomb = bos.toByteArray
    val asset = Multimodal.MediaAsset(7L, "image", bomb, "test://bomb",
      bomb.length.toLong)
    val f = Multimodal.extractFeatures(Seq(asset).toDS()).collect().head
    // stub-derived pseudo dimensions, NOT the declared 60000
    assert(f.width != 60000 && f.height != 60000)
    assert(f.n_bytes == bomb.length.toLong)
  }

  test("multimodal: dHash is stable under re-encode/brightness/resize and separates content") {
    // smooth synthetic pattern (normalized coordinates, so a resized copy
    // samples ~the same field): luminance in [2,252], no clipping
    def render(w: Int, h: Int, phase: Double, freq: Double): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val u = x.toDouble / w; val v = y.toDouble / h
        val l = (127 + 125 * math.sin(2 * math.Pi * freq * u + phase) *
          math.cos(2 * math.Pi * 2 * v)).toInt
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def brighten(png: Array[Byte], d: Int): Array[Byte] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val l = math.min(255, ((img.getRGB(x, y) >> 16) & 0xFF) + d)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = render(72, 48, 0.0, 3)
    val scaled = render(144, 96, 0.0, 3)   // 2× resolution, same content
    val bright = brighten(base, 20)        // +20 luminance, same ordering
    val other = render(72, 48, 1.7, 7)     // different content
    def asset(id: Long, b: Array[Byte]) =
      Multimodal.MediaAsset(id, "image", b, s"test://$id", b.length.toLong)
    val assets = Seq(asset(1, base), asset(2, base), asset(3, bright),
      asset(4, scaled), asset(5, other)).toDS()

    val hashes = Multimodal.perceptualHashes(assets)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
    assert(ham(1, 2) == 0)  // identical bytes → identical hash
    assert(ham(1, 3) <= 2)  // brightness shift preserves neighbour order
    assert(ham(1, 4) <= 3)  // 2× resize samples the same field
    assert(ham(1, 5) > 10)  // different content is far away

    val pairs = Multimodal.imageNearDupPairs(assets, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1-2 collapse to one signature cluster; 3/4 reach it via banding
    assert(pairs.contains((1L, 2L)))
    assert(pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("multimodal: audio fingerprint survives volume change and separates content") {
    // 1-second 8kHz WAVs with a MODULATED envelope (a flat sine has no
    // envelope shape to fingerprint): carrier 440Hz, envelope sin at
    // `envHz`, per-sample amplitude = |sin(2π·envHz·t)|
    def renderWav(envHz: Double, gain: Double): Array[Byte] = {
      val rate = 8000f
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val n = 8000
      val data = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val t = i / rate
        val env = math.abs(math.sin(2 * math.Pi * envHz * t))
        val s = (math.sin(2 * math.Pi * 440 * t) * env * gain * 30000)
          .toInt.max(-32768).min(32767).toShort
        data(2 * i) = (s & 0xFF).toByte
        data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def asset(id: Long, b: Array[Byte]) =
      Multimodal.MediaAsset(id, "audio", b, s"test://$id", b.length.toLong)
    val base = renderWav(3.0, 1.0)
    val quiet = renderWav(3.0, 0.4)   // same envelope shape, 40% volume
    val other = renderWav(7.5, 1.0)   // different envelope
    val assets = Seq(asset(1, base), asset(2, base), asset(3, quiet),
      asset(4, other)).toDS()
    val sigs = Multimodal.audioFingerprints(assets)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(1, 2) == 0)  // identical bytes
    assert(ham(1, 3) <= 3)  // volume scaling preserves envelope order
    assert(ham(1, 4) > 10)  // different modulation is far away
    val pairs = Multimodal.audioNearDupPairs(assets, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("multimodal: real 3-frame animated GIF decodes frame-by-frame") {
    import spark.implicits._
    val docs = Seq(1L, 2L).toDF("doc_id")
    val assets = Multimodal.syntheticVideoAssets(docs, framesPer = 3)
    // the container genuinely holds 3 image blocks
    val a = assets.collect().find(_.asset_id == 1L).get
    val raw = Multimodal.readFramesBounded(a.content, 10)
    assert(raw.size == 3, raw.size)
    assert(raw.head.getWidth == 48 && raw.head.getHeight == 32)
    // sampleFrames takes the real path: 3 rows (actual frames, not
    // padded to framesPer), real dimensions, distinct per-frame pixels
    val rows = Multimodal.sampleFrames(assets, framesPer = 4).collect()
    val mine = rows.filter(_.getLong(0) == 1L)
    assert(mine.length == 3, mine.length)
    assert(mine.map(_.getLong(2)).distinct.length == 3) // phase advance
    assert(rows.forall(r => r.getInt(3) == 48 && r.getInt(4) == 32))
    // capped sampling still includes the first frame
    val capped = Multimodal.readFramesBounded(a.content, 2)
    assert(capped.size == 2)
    assert(Multimodal.sampleRaster(capped.head)._2 ==
      Multimodal.sampleRaster(raw.head)._2)
  }

  test("multimodal: MJPEG-AVI roundtrip — real frames, header-true " +
    "features, malformed input falls back safely") {
    import spark.implicits._
    val docs = Seq(1L).toDF("doc_id") // odd id → AVI container
    val a = Multimodal.syntheticVideoAssets(docs, framesPer = 3)
      .collect().head
    assert(a.source_uri.startsWith("synthetic-mjpeg://"))
    assert(graft.ext.Avi.isAvi(a.content))
    // container parse: header carries dims + timing, 3 JPEG frames
    val Some((hdr, frames)) = graft.ext.Avi.parse(a.content, 10)
    assert(hdr.width == 48 && hdr.height == 32 && hdr.totalFrames == 3)
    val imgs = Multimodal.readFramesBounded(a.content, 10)
    assert(imgs.size == 3)
    assert(imgs.head.getWidth == 48 && imgs.head.getHeight == 32)
    assert(frames.forall(f => (f(0) & 0xFF) == 0xFF && (f(1) & 0xFF) == 0xD8),
      "frame payloads must be JPEG streams")
    // frame cap: 2 of 3, first frame always included
    assert(graft.ext.Avi.parse(a.content, 2).get._2.size == 2)
    // features: real dims + duration from the header (3 × 33333 µs)
    val feats = Multimodal.decodeVideo(a).get
    assert(feats.width == 48 && feats.height == 32)
    assert(feats.duration_ms == 3L * 33333 / 1000)
    assert(feats.mean_intensity > 0.0)
    // malformed payloads: truncated AVI and garbage both yield None →
    // the dispatch stubs instead of throwing
    val truncated = a.content.take(40)
    assert(graft.ext.Avi.parse(truncated, 10).isEmpty)
    assert(Multimodal.decodeVideo(
      a.copy(content = truncated)).isEmpty)
    assert(Multimodal.decodeVideo(
      a.copy(content = Array.fill[Byte](64)(7))).isEmpty)
    // jpeg re-decode equals the source raster's sample hash (JPEG is
    // lossy: compare via the full pipeline instead — frames decode and
    // differ per phase)
    assert(imgs.map(i => Multimodal.sampleRaster(i)._2).distinct.size == 3)
  }

  test("multimodal: uncompressed (BI_RGB) AVI roundtrips EXACTLY; " +
    "RLE8 decodes runs, absolute mode and escapes") {
    import graft.ext.Avi
    // 24-bpp BI_RGB: odd width (5) forces real row padding; pixel
    // values chosen to catch BGR/RGB swaps and top/bottom flips
    val src = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 5)
      src.setRGB(x, y, (x * 50 << 16) | (y * 80 << 8) | (x + y))
    val avi = Avi.writeDib(
      Seq(Avi.dib24Bytes(src), Avi.dib24Bytes(src)), 5, 3)
    assert(Avi.isAvi(avi))
    val Some((hdr, frames)) = Avi.parse(avi, 10)
    assert(hdr.isDib && hdr.bitCount == 24 && hdr.compression == 0)
    assert(frames.size == 2)
    val img = Avi.dibImage(hdr, frames.head).get
    // uncompressed → BIT-EXACT roundtrip, unlike lossy MJPEG
    for (y <- 0 until 3; x <- 0 until 5)
      assert((img.getRGB(x, y) & 0xFFFFFF) == (src.getRGB(x, y) & 0xFFFFFF))
    // the full video pipeline decodes it too (dims + nonzero raster)
    val imgs = graft.ext.Multimodal.readFramesBounded(avi, 10)
    assert(imgs.size == 2 && imgs.head.getWidth == 5)
    // RLE8: palette {0→black, 1→red, 2→blue}; row 0 (bottom): run of
    // 3×red then absolute mode 3 literals (blue, red, blue) + pad;
    // EOL; row 1: delta skip 2 then 2×blue; end of bitmap
    val pal = Array[Byte](0, 0, 0, 0, /*1:*/ 0, 0, -1, 0, /*2:*/ -1, 0, 0, 0)
    val rle = Array[Byte](3, 1, 0, 3, 2, 1, 2, 0 /*pad*/, 0, 0,
      0, 2, 2, 0, 2, 2, 0, 1)
    val avi8 = Avi.writeDib(Seq(rle), 6, 2, bitCount = 8,
      compression = 1, palette = pal)
    val Some((h8, fs8)) = Avi.parse(avi8, 10)
    assert(h8.isDib && h8.compression == 1 && h8.bitCount == 8)
    assert(h8.palette.length == 12)
    val i8 = Avi.dibImage(h8, fs8.head).get
    val red = 0xFF0000
    val blue = 0x0000FF
    // bottom row (y=1 in image coords): red,red,red,blue,red,blue
    assert((0 until 6).map(i8.getRGB(_, 1) & 0xFFFFFF) ==
      Seq(red, red, red, blue, red, blue))
    // top row (y=0): delta skipped 2 (black), then blue, blue, rest black
    assert((0 until 6).map(i8.getRGB(_, 0) & 0xFFFFFF) ==
      Seq(0, 0, blue, blue, 0, 0))
    // malformed RLE (truncated mid-run) still decodes without throwing
    assert(Avi.dibImage(h8, rle.take(3)).isDefined)
  }

  test("multimodal: a NULL-text document becomes an EMPTY asset, not a " +
    "null one — decode stays total") {
    import spark.implicits._
    val docs = Seq((0L, "real text"), (1L, null: String))
      .toDF("doc_id", "text")
    val assets = Multimodal.assetsFromDocuments(spark, docs)
    // n_bytes decodes into a non-nullable Long: one null doc must not
    // kill the job
    val rows = assets.collect().sortBy(_.asset_id)
    assert(rows.length == 2)
    assert(rows(1).n_bytes == 0L && rows(1).content.length == 0)
    // and features still compute for BOTH (empty payload path)
    assert(Multimodal.extractFeatures(assets).count() == 2)
  }

  test("multimodal: frame sampling emits framesPer rows per video asset") {
    val docs = Tables.load(spark, sfDir, "documents")
    val assets = Multimodal.assetsFromDocuments(spark, docs)
    val nVideos = assets.filter(_.media_type == "video").count()
    val frames = Multimodal.sampleFrames(assets, framesPer = 4)
    assert(frames.count() == nVideos * 4)
    assert(frames.groupBy("asset_id").count()
      .filter(col("count") =!= 4).count() == 0)
  }
}
