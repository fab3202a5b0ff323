package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling (north-star; SURVEY §2.11): images/audio/video
  * as opaque `binary` columns with typed metadata, processed in batches via
  * `mapPartitions` over typed Datasets (the JVM analogue of the
  * mapInPandas/Arrow-batch shape — per-partition iterator, codec state
  * initialised once per partition, never per row).
  *
  * Image decode is REAL (`javax.imageio` ships with the JDK): width,
  * height and mean luminance come from actual pixel data for any format
  * ImageIO reads (PNG/JPEG/BMP/GIF). Audio decode is REAL for the
  * formats the JDK ships codecs for (`javax.sound.sampled`: WAV/AIFF/AU
  * PCM): sample rate, channels, duration and mean amplitude from the
  * actual frames. VIDEO decode is REAL for MOTION-JPEG in AVI (the
  * [[Avi]] RIFF walk yields per-frame JPEG payloads the JDK's own JPEG
  * codec decompresses — header-true dims, duration and per-frame
  * rasters) and for multi-frame containers ImageIO reads (animated
  * GIF). Interframe video codecs (H.264/VP9/AV1 in mp4/webm…) are
  * STUBBED — they need entropy/motion decode no JDK API provides and
  * this container ships no media libraries: `decodeStub` derives
  * deterministic pseudo-features from the bytes, and undecodable
  * payloads fall back to it too. Every
  * Spark-side contract — schema, binary payload handling, per-partition
  * batching, feature/resize/frame-sample signatures — is real and
  * tested; swapping `decodeStub` for a JNI/JavaCV call is a
  * one-function change.
  */
object Multimodal {

  // ImageIO's DEFAULT stream cache is DISK-backed: every
  // createImageInputStream / write(OutputStream) spools the payload
  // through a FileCache temp FILE — one create/write/delete in
  // java.io.tmpdir per decoded or encoded asset, even when the bytes
  // are already an in-memory array. Under a many-core executor the
  // decode tasks then serialize on temp-file creation (measured r19,
  // local[32] sf0.1: q82's aggregate task time 151-205 s vs 7.6-12 s at
  // 8 threads — ~15× CPU inflation that vanished with the memory
  // cache). All payloads on this path are in-memory byte arrays, so the
  // memory cache is strictly better at any scale. JVM-global by API
  // design; executors touch this object before any ImageIO call.
  javax.imageio.ImageIO.setUseCache(false)

  // javax.sound's STATIC entry points (AudioSystem.getAudioInputStream /
  // AudioSystem.write) re-run a ServiceLoader provider scan on EVERY
  // call, under one global class lock — and inside a Spark task the
  // scan walks the executor classloader's whole classpath for
  // META-INF/services entries. 32 decode tasks then convoy on that
  // lock: measured r19 (TaskCount per-stage, local[32] sf0.1), q90's
  // fingerprint stage ran 32 tasks × ~3 s WALL with only ~0.1 s CPU
  // each — 62-97 s of aggregate blocked time for ~1 s of decode work.
  // Loading the SPI providers ONCE and iterating them directly is the
  // same first-accepting-reader contract AudioSystem implements (each
  // JDK audio format is accepted by exactly one shipped reader, so
  // provider order cannot change which one decodes), minus the per-call
  // scan and lock.
  private lazy val audioReaders =
    audioProviders(classOf[javax.sound.sampled.spi.AudioFileReader])
  private lazy val audioWriters =
    audioProviders(classOf[javax.sound.sampled.spi.AudioFileWriter])

  /** The class loader audio SPI providers load through: the thread's
    * context loader — inside a Spark task the executor loader, which also
    * sees the application's jars — else the system loader, which does
    * not (it is also what `AudioSystem`'s own bootstrap loader falls back
    * to). */
  private[graft] def spiLoader(): ClassLoader =
    Option(Thread.currentThread.getContextClassLoader)
      .getOrElse(ClassLoader.getSystemClassLoader)

  /** Every installed provider of `service`, the JDK's and the
    * application's, through [[spiLoader]]. */
  private[graft] def audioProviders[T](service: Class[T]): Seq[T] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(service, spiLoader())
      .iterator().asScala.toSeq
  }

  /** [[javax.sound.sampled.AudioSystem.getAudioInputStream]] minus the
    * per-call provider scan: first reader that accepts the (markable)
    * stream wins; None when no installed reader recognises the bytes —
    * callers fall back to the stub exactly as they did on
    * UnsupportedAudioFileException. */
  private def audioInputStream(bytes: Array[Byte])
      : Option[javax.sound.sampled.AudioInputStream] = {
    val in = new java.io.ByteArrayInputStream(bytes)
    audioReaders.iterator.flatMap { r =>
      try Some(r.getAudioInputStream(in))
      catch {
        // the SPI contract: a rejecting reader resets the stream
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
      }
    }.nextOption()
  }

  /** [[javax.sound.sampled.AudioSystem.write]] (WAVE to a stream) minus
    * the per-call provider scan — same first-supporting-writer rule. */
  private def writeWave(ais: javax.sound.sampled.AudioInputStream,
      out: java.io.OutputStream): Unit = {
    val t = javax.sound.sampled.AudioFileFormat.Type.WAVE
    audioWriters.find(_.isFileTypeSupported(t, ais)) match {
      case Some(w) => w.write(ais, t, out); ()
      case None => throw new IllegalArgumentException(
        "no installed WAVE writer supports this stream")
    }
  }

  /** Asset row: opaque payload + typed metadata (the lakehouse pattern for
    * multimodal training data: bytes in the column, facts in metadata). */
  final case class MediaAsset(
      asset_id: Long,
      media_type: String,     // "image" | "audio" | "video"
      content: Array[Byte],
      source_uri: String,
      n_bytes: Long)

  final case class MediaFeatures(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int,             // decoded dimensions (stub: derived)
      height: Int,
      duration_ms: Long,      // audio/video only (stub: derived)
      mean_intensity: Double, // stub: byte-mean proxy
      feature_hash: Long)

  /** Spread a compute-dominant stage across every core: codec work costs
    * seconds-per-gigabyte while the rows themselves are small, so the
    * file-size-driven partitioning the scan chose (`maxPartitionBytes`
    * can only see bytes, not decode cost) routinely under-splits — a
    * 100 MB asset manifest is one partition, and every decode in the
    * job lands on one core of the whole cluster. When the input has
    * fewer partitions than `defaultParallelism`, repartition up to it;
    * already-well-split inputs (the 100 TB many-file case) pass through
    * untouched, so the shuffle is only paid exactly when the
    * alternative is idle executors. */
  private def spread[T](ds: Dataset[T]): Dataset[T] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // Only inspect partitioning when the lineage is PROVABLY narrow
    // (scan-rooted with row-local transforms): on any other plan the
    // layout was chosen upstream — and, under AQE, asking the RDD for
    // its partition count would EXECUTE the upstream shuffle stages just
    // to answer, running that compute twice. This is an ALLOWLIST, not a
    // shuffle denylist: a denylist silently re-executes whatever node
    // class it forgot (Deduplicate, MapGroups, Except, GlobalLimit, and
    // every operator a future Spark adds), while an unknown node here
    // costs at most some idle cores on an under-split input.
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case n @ (_: Project | _: Filter | _: TypedFilter |
          _: SerializeFromObject | _: DeserializeToObject |
          _: MapElements | _: SubqueryAlias | _: LocalLimit) =>
        n.children.forall(narrow)
      case _ => false
    }
    if (!narrow(ds.queryExecution.analyzed)) ds
    else {
      val target = ds.sparkSession.sparkContext.defaultParallelism
      if (ds.rdd.getNumPartitions < target) ds.repartition(target) else ds
    }
  }

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("source_uri", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false)))

  /** STUB decoder — deterministic fake standing in for the real codec
    * (===> replace with an actual image/audio decode when libs exist).
    * Derives stable pseudo-dimensions/intensity from the payload bytes so
    * tests and oracles are reproducible.
    *
    * The derivation is deliberately ENGINE-PORTABLE integer algebra — a
    * position-weighted byte sum mod 2^31−1 (weights 31^(i mod 8) mod p;
    * every product ≤ 256·2^31 < 2^40, every partial sum < 2^60 — no
    * 64-bit overflow, so a reference SQL engine reproduces it exactly
    * from the same bytes) rather than a wrapping multiplicative fold,
    * which only exists in languages with defined wraparound. That lets
    * the q45 gate hash-check the whole binary-asset plumbing (schema,
    * batched mapPartitions, type routing) against a DuckDB replay. */
  private[ext] def decodeStub(a: MediaAsset): MediaFeatures = {
    val bytes = Option(a.content).getOrElse(Array.emptyByteArray)
    val P = 2147483647L // 2^31 − 1
    // 31^j mod P for j in 0..7
    val W = Array(1L, 31L, 961L, 29791L, 923521L, 28629151L,
      887503681L, 1742810335L)
    var acc = 0L
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      val b = (bytes(i) & 0xFF).toLong
      acc = (acc + (b + 1L) * W(i & 7)) % P
      sum += b
      i += 1
    }
    val h = acc
    val mean = if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length
    MediaFeatures(
      asset_id = a.asset_id,
      media_type = a.media_type,
      n_bytes = bytes.length.toLong,
      width = 64 + (h % 1024).toInt,
      height = 64 + ((h / 1024) % 1024).toInt,
      duration_ms = if (a.media_type == "image") 0L else h % 600000L,
      mean_intensity = mean,
      feature_hash = h)
  }

  /** Decode bytes to a raster with the decompression-bomb guard applied
    * from the HEADER alone: a ~100 KB PNG can declare 60000×60000 and
    * `ImageIO.read` would allocate the full ~14 GB raster (an
    * OutOfMemoryError no catch survives). Readers sniff magic bytes, so
    * non-image payloads return None cheaply. */
  private[ext] def readImageBounded(
      bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (bytes.isEmpty) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); return None }
      val reader = readers.next()
      val img =
        try {
          reader.setInput(iis)
          if (reader.getWidth(0).toLong * reader.getHeight(0) > 100000000L)
            return None // > 100 MP: refuse to materialize the raster
          reader.read(0)
        } finally { reader.dispose(); iis.close() }
      Option(img)
    } catch { case _: Exception => None }
  }

  /** Mean luminance (ITU-R 601) + pixel-fold hash over the bounded
    * deterministic sample grid (≤64×64 points — ceil-division stride, so
    * a 100-megapixel frame costs the same as a thumbnail). Shared by
    * single-image decode and per-frame video sampling. */
  private[graft] def sampleRaster(
      img: java.awt.image.BufferedImage): (Double, Long) = {
    val w = img.getWidth
    val h = img.getHeight
    // ceil division: stride guarantees ≤64 samples per axis for EVERY
    // size (floor div sampled up to 127×127 points in the 65–127 band)
    val sx = (w + 63) / 64
    val sy = (h + 63) / 64
    var sum = 0.0
    var n = 0L
    var hash = 1125899906842597L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
          0.114 * (rgb & 0xFF)
        sum += lum
        n += 1
        hash = hash * 31 + rgb
        x += sx
      }
      y += sy
    }
    (if (n == 0) 0.0 else sum / n, hash)
  }

  /** Real image decode via the JDK's own codec: dimensions straight from
    * the decoded raster; mean intensity = average luminance (0–255,
    * ITU-R 601 weights) over a bounded deterministic sample grid (≤64×64
    * points — a 100-megapixel scan costs the same as a thumbnail);
    * feature_hash folds the same sampled pixels. Returns None when the
    * bytes aren't a decodable image (ImageIO sniffs magic bytes), letting
    * the caller fall back to the deterministic stub. */
  private[ext] def decodeImage(a: MediaAsset): Option[MediaFeatures] = {
    val bytes = Option(a.content).getOrElse(Array.emptyByteArray)
    try {
      val imgOpt = readImageBounded(bytes)
      if (imgOpt.isEmpty) return None
      val img = imgOpt.get
      val w = img.getWidth
      val h = img.getHeight
      val (mean, hash) = sampleRaster(img)
      Some(MediaFeatures(
        asset_id = a.asset_id,
        media_type = a.media_type,
        n_bytes = bytes.length.toLong,
        width = w,
        height = h,
        duration_ms = 0L,
        mean_intensity = mean,
        feature_hash = hash))
    } catch { case _: Exception => None }
  }

  /** One AVI frame payload → raster: raw DIB frames (uncompressed
    * BI_RGB / BI_RLE8 streams) through the pure-JDK [[Avi.dibImage]]
    * (bomb-guarded by the HEADER dims, exactly like the codec path
    * guards ImageIO headers), codec frames (MJPEG) through the bounded
    * ImageIO decode. */
  private def aviFrame(h: Avi.Header,
      payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (h.isDib) {
      if (h.width.toLong * h.height > 100000000L) None
      else Avi.dibImage(h, payload)
    } else readImageBounded(payload)

  /** Real multi-frame decode for containers the JDK can read (animated
    * GIF — `getNumImages` then per-frame `read`): up to `maxFrames`
    * frames sampled EVENLY across the container (first frame always
    * included), with [[readImageBounded]]'s decompression-bomb guard
    * applied to EVERY sampled frame's header dims. Single-frame formats
    * yield one frame; Nil for payloads no installed reader recognises
    * (true video codecs — the only remaining stub territory). Honesty
    * note: a frame-OPTIMIZED GIF stores later frames as changed-region
    * patches; `read(i)` returns the patch raster, so dims/hash then
    * describe the patch, not the composited frame (the synthetic
    * generator emits full frames; full compositing needs the disposal
    * metadata and is out of scope for feature hashing). */
  private[graft] def readFramesBounded(bytes: Array[Byte],
      maxFrames: Int): Seq[java.awt.image.BufferedImage] = {
    if (bytes.isEmpty || maxFrames <= 0) return Nil
    // MJPEG-in-AVI: real video decode, pure JDK — the container walk
    // ([[Avi.parse]]) yields per-frame JPEG payloads, each decompressed
    // through the same bounded single-image path (bomb guard included)
    if (Avi.isAvi(bytes))
      return Avi.parse(bytes, maxFrames) match {
        case Some((h, frames)) => frames.flatMap(aviFrame(h, _))
        case None => Nil
      }
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); return Nil }
      val reader = readers.next()
      try {
        reader.setInput(iis)
        // allowSearch=true: the stream is an in-memory IIS, so the full
        // scan for the frame count is cheap and exact
        val n = reader.getNumImages(true)
        if (n <= 0) return Nil
        val take = math.min(n, maxFrames)
        (0 until take).map { i =>
          val idx = (i.toLong * n / take).toInt
          // bomb guard PER FRAME from header dims alone — GIF image
          // descriptors are per-block, so a tiny first frame must not
          // whitelist later huge ones
          if (reader.getWidth(idx).toLong * reader.getHeight(idx) >
            100000000L) return Nil
          reader.read(idx)
        }
      } finally { reader.dispose(); iis.close() }
    } catch { case _: Exception => Nil }
  }

  /** Real audio decode via the JDK's sampled-sound codecs (WAV/AIFF/AU).
    * Feature mapping for audio rows: width = sample rate (Hz), height =
    * channel count, duration_ms from the header frame count, mean
    * intensity = mean |amplitude| in [0,1] over AT MOST the first 64k
    * frames of signed-16-bit PCM (bounded work — an hour-long recording
    * costs the same as a clip; non-16-bit encodings report header
    * features with intensity 0). Returns None for bytes the JDK can't
    * parse as audio, letting the caller fall back to the stub. */
  private[ext] def decodeAudio(a: MediaAsset): Option[MediaFeatures] = {
    val bytes = Option(a.content).getOrElse(Array.emptyByteArray)
    if (bytes.isEmpty) return None
    try {
      val ais = audioInputStream(bytes).getOrElse(return None)
      try {
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        val rate = fmt.getFrameRate
        if (frames < 0 || rate <= 0) return None
        val pcm16 = fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && fmt.getFrameSize > 0
        var sum = 0.0
        var n = 0L
        var hash = 1125899906842597L
        if (pcm16) {
          val want = math.min(frames, 65536L) * fmt.getFrameSize
          val buf = new Array[Byte](math.min(want, 1L << 22).toInt)
          var off = 0
          var read = 0
          while (off < buf.length &&
            { read = ais.read(buf, off, buf.length - off); read > 0 })
            off += read
          val be = fmt.isBigEndian
          var i = 0
          while (i + 1 < off) {
            val s =
              if (be) ((buf(i) << 8) | (buf(i + 1) & 0xFF)).toShort
              else ((buf(i + 1) << 8) | (buf(i) & 0xFF)).toShort
            sum += math.abs(s / 32768.0)
            n += 1
            hash = hash * 31 + s
            i += 2
          }
        }
        Some(MediaFeatures(
          asset_id = a.asset_id,
          media_type = a.media_type,
          n_bytes = bytes.length.toLong,
          width = math.round(fmt.getSampleRate),
          height = fmt.getChannels,
          duration_ms = math.round(frames * 1000.0 / rate),
          mean_intensity = if (n == 0) 0.0 else sum / n,
          feature_hash = hash))
      } finally ais.close()
    } catch { case _: Exception => None }
  }

  /** Real video features where the container is decodable without
    * external codecs: MJPEG-AVI gets header-true dimensions and duration
    * (frames × µs/frame) plus first-frame raster stats; other JDK-
    * readable multi-frame containers (animated GIF shipped as video)
    * get first-frame dims/stats with duration 0 (GIF frame timing lives
    * in extension blocks out of scope here). None for true interframe
    * codecs — the caller stubs. */
  private[graft] def decodeVideo(a: MediaAsset): Option[MediaFeatures] = {
    val bytes = Option(a.content).getOrElse(Array.emptyByteArray)
    val (dims, frames) =
      if (Avi.isAvi(bytes))
        Avi.parse(bytes, 1) match {
          case Some((h, fs)) =>
            (Some((h.width, h.height,
              h.totalFrames.toLong * h.usPerFrame / 1000L)),
              fs.flatMap(aviFrame(h, _)))
          case None => (None, Nil)
        }
      else (None, readFramesBounded(bytes, 1))
    frames.headOption.map { img =>
      val (mean, hash) = sampleRaster(img)
      val (w, h, dur) = dims.getOrElse((img.getWidth, img.getHeight, 0L))
      MediaFeatures(
        asset_id = a.asset_id,
        media_type = a.media_type,
        n_bytes = bytes.length.toLong,
        width = w,
        height = h,
        duration_ms = dur,
        mean_intensity = mean,
        feature_hash = hash)
    }
  }

  /** Dispatch: real codec where one exists (images, PCM audio, MJPEG-AVI
    * and JDK-readable multi-frame video via [[decodeVideo]]), stub for
    * interframe video codecs and undecodable payloads. */
  private[ext] def decode(a: MediaAsset): MediaFeatures =
    if (a.media_type == "image") decodeImage(a).getOrElse(decodeStub(a))
    else if (a.media_type == "audio") decodeAudio(a).getOrElse(decodeStub(a))
    else if (a.media_type == "video") decodeVideo(a).getOrElse(decodeStub(a))
    else decodeStub(a)

  /** Batched feature extraction: one decoder context per partition (the
    * expensive-init pattern for real codecs), iterator-to-iterator so
    * nothing materialises per partition. */
  def extractFeatures(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    spread(assets).mapPartitions { it =>
      // real codec init happens lazily per partition (ImageIO scanners are
      // process-wide; an expensive per-codec context would be built HERE)
      it.map(decode)
    }
  }

  /** 64-bit difference hash (dHash) of a decoded image: average luminance
    * over a 9×8 block grid, bit (y*8+x) set iff block (x+1,y) is brighter
    * than block (x,y). Robust to resizing/re-encoding/brightness shifts
    * (compares only neighbour ORDER), which byte-level hashing is not —
    * the standard perceptual key for image near-dup at corpus scale.
    * Block averages sample ≤ 8×8 points per block (bounded work per
    * image, same rationale as [[decodeImage]]'s sample grid). */
  private[ext] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val lum = Array.ofDim[Double](8, 9)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        // block bounds in source pixels (ceil-divided grid)
        val x0 = gx * w / 9; val x1 = math.max(x0 + 1, (gx + 1) * w / 9)
        val y0 = gy * h / 8; val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
        val sx = math.max(1, (x1 - x0 + 7) / 8)
        val sy = math.max(1, (y1 - y0 + 7) / 8)
        var sum = 0.0
        var n = 0
        var y = y0
        while (y < y1 && y < h) {
          var x = x0
          while (x < x1 && x < w) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xFF) +
              0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
            n += 1
            x += sx
          }
          y += sy
        }
        lum(gy)(gx) = if (n == 0) 0.0 else sum / n
        gx += 1
      }
      gy += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      val y = i / 8; val x = i % 8
      if (lum(y)(x + 1) > lum(y)(x)) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Per-asset perceptual hash rows (asset_id, dhash): REAL dHash for
    * decodable images, deterministic stub fold otherwise (same fallback
    * contract as [[extractFeatures]] — the pipeline shape stays testable
    * on non-image payloads). One pass, no shuffle. */
  def perceptualHashes(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    spread(assets).mapPartitions { it =>
      it.map { a =>
        val dh =
          if (a.media_type == "image")
            readImageBounded(
              Option(a.content).getOrElse(Array.emptyByteArray))
              .map(dHash64)
              .getOrElse(decodeStub(a).feature_hash)
          else decodeStub(a).feature_hash
        (a.asset_id, dh)
      }
    }.toDF("id", "sig")
  }

  /** Image near-duplicate pairs: perceptual dHash + banded Hamming join
    * ([[graft.ext.Dedup.hammingPairs64]] — identical-hash clustering
    * first, 4×16-bit band blocking, bounded buckets). A re-encoded /
    * resized / slightly-recolored copy lands within a few bits of its
    * original; byte-level exact dedup misses all of those. Returns
    * (a, b, hamming) with a < b. */
  def imageNearDupPairs(assets: Dataset[MediaAsset], maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame =
    graft.ext.Dedup.hammingPairs64(perceptualHashes(assets), maxHamming,
      maxBucketSize)

  /** 64-bit audio difference fingerprint: mean |amplitude| over 65
    * equal time windows of the first ≤64k frames (PCM-16 via the JDK
    * codec), bit i set iff window i+1 is louder than window i — the
    * energy-envelope analogue of [[dHash64]] (compares neighbour ORDER,
    * so it survives volume scaling and re-encoding, which byte hashing
    * does not). Non-PCM16/undecodable payloads return None. */
  private[ext] def audioFingerprint64(bytes: Array[Byte]): Option[Long] = {
    if (bytes.isEmpty) return None
    try {
      val ais = audioInputStream(bytes).getOrElse(return None)
      try {
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        val pcm16 = fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && fmt.getFrameSize > 0
        if (!pcm16 || frames <= 65) return None
        val want = math.min(frames, 65536L) * fmt.getFrameSize
        val buf = new Array[Byte](math.min(want, 1L << 22).toInt)
        var off = 0
        var read = 0
        while (off < buf.length &&
          { read = ais.read(buf, off, buf.length - off); read > 0 })
          off += read
        val be = fmt.isBigEndian
        val step = fmt.getFrameSize
        val nFrames = off / step
        if (nFrames <= 65) return None
        val energy = new Array[Double](65)
        val counts = new Array[Long](65)
        var f = 0
        while (f < nFrames) {
          val i = f * step // first channel's sample only
          val s =
            if (be) ((buf(i) << 8) | (buf(i + 1) & 0xFF)).toShort
            else ((buf(i + 1) << 8) | (buf(i) & 0xFF)).toShort
          val w = (f.toLong * 65 / nFrames).toInt
          energy(w) += math.abs(s / 32768.0)
          counts(w) += 1
          f += 1
        }
        var bits = 0L
        var i = 0
        while (i < 64) {
          val a = if (counts(i) == 0) 0.0 else energy(i) / counts(i)
          val b = if (counts(i + 1) == 0) 0.0 else energy(i + 1) / counts(i + 1)
          if (b > a) bits |= (1L << i)
          i += 1
        }
        Some(bits)
      } finally ais.close()
    } catch { case _: Exception => None }
  }

  /** Per-asset audio fingerprints (id, sig) — real envelope fingerprint
    * for decodable PCM audio, deterministic stub fold otherwise (same
    * fallback contract as [[perceptualHashes]]). */
  def audioFingerprints(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    spread(assets).mapPartitions { it =>
      it.map { a =>
        val sig =
          if (a.media_type == "audio")
            audioFingerprint64(
              Option(a.content).getOrElse(Array.emptyByteArray))
              .getOrElse(decodeStub(a).feature_hash)
          else decodeStub(a).feature_hash
        (a.asset_id, sig)
      }
    }.toDF("id", "sig")
  }

  /** Audio near-duplicate pairs: envelope fingerprint + banded Hamming
    * join — catches re-encoded / volume-shifted copies of the same
    * recording. Same contract as [[imageNearDupPairs]]. */
  def audioNearDupPairs(assets: Dataset[MediaAsset], maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame =
    graft.ext.Dedup.hammingPairs64(audioFingerprints(assets), maxHamming,
      maxBucketSize)

  /** Frame sampling for video payloads (flatMap shape — the
    * generator/explode pattern on binary data): REAL frames whenever the
    * container is JDK-readable (animated GIF via [[readFramesBounded]] —
    * up to `framesPer` frames sampled evenly, hash/dimensions from
    * actual pixel data); deterministic pseudo-frames only for codecs no
    * installed reader handles (true video — the documented stub). */
  def sampleFrames(assets: Dataset[MediaAsset], framesPer: Int): DataFrame = {
    import assets.sparkSession.implicits._
    spread(assets.filter(_.media_type == "video")).flatMap { a =>
      val bytes = Option(a.content).getOrElse(Array.emptyByteArray)
      val frames = readFramesBounded(bytes, framesPer)
      if (frames.nonEmpty)
        frames.zipWithIndex.map { case (img, f) =>
          (a.asset_id, f, sampleRaster(img)._2, img.getWidth, img.getHeight)
        }
      else {
        val base = decodeStub(a)
        (0 until framesPer).map { f =>
          (a.asset_id, f, base.feature_hash * 31 + f, base.width, base.height)
        }
      }
    }.toDF("asset_id", "frame_idx", "frame_hash", "width", "height")
  }

  /** Deterministic synthetic IMAGE assets from a document table: each doc
    * renders a small real PNG (JDK codec) whose pattern is keyed by
    * `doc_id % groups` with a per-doc brightness shift — so every group
    * is a planted near-dup cluster (same pattern, slightly different
    * bytes) and cross-group images are far apart in dHash space. Drives
    * the REAL decode → perceptual-hash path end-to-end without external
    * media files; per-row cost is a bounded 48×32 render. */
  def syntheticImageAssets(docs: DataFrame, groups: Int = 50): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    spread(docs.select(col("doc_id").cast(LongType)).as[Long])
      .mapPartitions { it =>
      it.map { id =>
        val freq = 2 + (id % groups)          // group pattern
        val shift = ((id / groups) % 3) * 12  // near-dup jitter within group
        val w = 48; val h = 32
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val u = x.toDouble / w; val v = y.toDouble / h
            val l0 = 120 + 110 * math.sin(2 * math.Pi * freq * u) *
              math.cos(2 * math.Pi * 2 * v)
            val l = math.min(250, l0.toInt + shift.toInt)
            img.setRGB(x, y, (l << 16) | (l << 8) | l)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        val png = bos.toByteArray
        MediaAsset(id, "image", png, s"synthetic-png://$id", png.length.toLong)
      }
    }
  }

  /** Deterministic synthetic VIDEO assets: each doc renders a real
    * multi-frame animated GIF (the JDK's own GIF writer, frame sequence
    * via `writeToSequence`) whose pattern is keyed by `doc_id % groups`
    * and whose phase advances per frame — frames genuinely differ, so
    * [[sampleFrames]] exercises the REAL multi-frame decode end-to-end
    * without external media files. */
  def syntheticVideoAssets(docs: DataFrame, groups: Int = 50,
      framesPer: Int = 3): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    spread(docs.select(col("doc_id").cast(LongType)).as[Long])
      .mapPartitions { it =>
      it.map { id =>
        val freq = 2 + (id % groups)
        val w = 48; val h = 32
        val frames = (0 until framesPer).map { f =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val u = x.toDouble / w; val v = y.toDouble / h
              val l = (120 + 110 *
                math.sin(2 * math.Pi * (freq * u + f * 0.25)) *
                math.cos(2 * math.Pi * 2 * v)).toInt.max(0).min(255)
              img.setRGB(x, y, (l << 16) | (l << 8) | l)
              x += 1
            }
            y += 1
          }
          img
        }
        // alternate containers so BOTH real multi-frame decode paths run
        // end-to-end: animated GIF (ImageIO sequence reader) on even
        // ids, MJPEG-AVI (the RIFF walk + JPEG frame decode) on odd
        if (id % 2 == 0) {
          val gif = writeAnimatedGif(frames)
          MediaAsset(id, "video", gif, s"synthetic-gif://$id",
            gif.length.toLong)
        } else {
          val avi = Avi.write(frames.map(Avi.jpegBytes), w, h)
          MediaAsset(id, "video", avi, s"synthetic-mjpeg://$id",
            avi.length.toLong)
        }
      }
    }
  }

  /** Encode frames as one animated GIF with the JDK's own writer. No
    * graphics-control metadata is attached — frame EXTRACTION counts
    * image blocks (`getNumImages`), not animation extensions, so the
    * sequence alone is sufficient and byte-deterministic. */
  private[ext] def writeAnimatedGif(
      frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(img => writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null))
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Deterministic synthetic AUDIO assets: each doc renders a real
    * 0.5-second 8kHz PCM WAV (JDK codec) whose envelope-modulation
    * frequency is keyed by `doc_id % groups`, with per-doc volume
    * jitter — every group is a planted near-dup cluster for
    * [[audioNearDupPairs]] and cross-group envelopes are far apart.
    * The audio twin of [[syntheticImageAssets]]. */
  def syntheticAudioAssets(docs: DataFrame, groups: Int = 50): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    spread(docs.select(col("doc_id").cast(LongType)).as[Long])
      .mapPartitions { it =>
      it.map { id =>
        val envHz = 2.0 + (id % groups)       // group envelope pattern
        val gain = 1.0 - ((id / groups) % 3) * 0.25 // volume jitter
        val rate = 8000f
        val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
        val n = 4000
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val t = i / rate
          val env = math.abs(math.sin(2 * math.Pi * envHz * t))
          val s = (math.sin(2 * math.Pi * 440 * t) * env * gain * 30000)
            .toInt.max(-32768).min(32767).toShort
          data(2 * i) = (s & 0xFF).toByte
          data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        writeWave(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), fmt, n.toLong), bos)
        val wav = bos.toByteArray
        MediaAsset(id, "audio", wav, s"synthetic-wav://$id", wav.length.toLong)
      }
    }
  }

  /** Build a deterministic asset table from any text corpus (test/demo
    * harness: payload = utf-8 bytes; at production the payload comes from
    * binary files / object storage). */
  def assetsFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaAsset] = {
    import spark.implicits._
    // null text → EMPTY payload, not a null one: n_bytes decodes into a
    // non-nullable Long (one null doc would kill the whole job at decode
    // time), and an empty byte array takes decode()'s documented
    // empty-payload path
    val payload = encode(coalesce(col("text"), lit("")), "UTF-8")
    docs.select(
      col("doc_id").as("asset_id"),
      element_at(typedlit(Seq("image", "audio", "video")),
        (col("doc_id") % 3).cast(IntegerType) + 1).as("media_type"),
      payload.as("content"),
      concat(lit("synthetic://"), col("doc_id")).as("source_uri"),
      // byte length of the actual payload (length of a binary column is
      // octets; length of the text column would be characters)
      length(payload).cast(LongType).as("n_bytes"))
      .as[MediaAsset]
  }
}
