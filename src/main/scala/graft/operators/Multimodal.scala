package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and batch-shaped decode /
  * feature-extract / frame-sample stages.
  *
  * Two decoders ship behind the pluggable [[ImageDecoder]] trait:
  * [[ImageIoDecoder]] is the REAL one — JDK `javax.imageio` (offline-safe,
  * no external libs): header-only metadata reads and full pixel decode
  * for features. [[StubDecoder]]
  * remains for deterministic byte-derived fakes where the DuckDB oracle
  * must replay the arithmetic (a SQL oracle cannot run a PNG codec —
  * but see `q_multimodal_imageio`, whose payloads are PNGs generated
  * from the corpus so the decoded dimensions have a closed form).
  *
  * Scale design: payload columns travel as parquet binary (dictionary-off,
  * large row groups); decode runs `mapPartitions`-style so a real decoder
  * amortizes codec init per partition, not per row; metadata extraction
  * reads only the image HEADER (no pixel decode) so a 100 TB metadata
  * pass does not pay decompression.
  */
object Multimodal {

  val imageMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("format", StringType),
    StructField("n_bytes", LongType)))

  /** Pluggable decoder contract: bytes → (meta, feature vector). A real
    * implementation opens the codec once per partition via `init()`.
    * Decoders signal non-image bytes with [[UndecodablePayload]]; the
    * batch stages map that to a null output column (bad rows survive
    * the pipeline for quarantine instead of failing the job).
    */
  trait ImageDecoder extends Serializable {
    def init(): Unit = ()
    def meta(bytes: Array[Byte]): (Int, Int, String)
    def features(bytes: Array[Byte], dim: Int): Array[Float]
  }

  /** Payload bytes no registered codec can read. */
  final class UndecodablePayload(msg: String) extends RuntimeException(msg)

  /** Real JDK decoder (`javax.imageio` — PNG/JPEG/GIF/BMP/WBMP readers
    * ship with every JRE; no external dependency, works offline).
    *
    * `meta` is a HEADER-ONLY read: `ImageReader.getWidth/getHeight`
    * parse the container header (IHDR chunk / SOF segment) without
    * decompressing pixel data — the right cost model for a metadata
    * pass over 100 TB of images. `features` pays the full decode and
    * produces a normalized luminance histogram (`dim` bins, mass sums
    * to 1), a deterministic pixel-statistics vector that feeds
    * [[graft.operators.Similarity]] directly.
    */
  object ImageIoDecoder extends ImageDecoder {
    import javax.imageio.ImageReader
    import javax.imageio.spi.{IIORegistry, ImageReaderSpi}

    /** The convenience `ImageIO` entry points take TWO global monitors
      * per image, and at 32 executor threads over 40k in-memory payloads
      * each becomes a contended lock with adaptive-spin CPU burn — the
      * decode queries ran BIMODALLY (54s vs 1638s executor CPU for the
      * same pass, depending on whether the monitors stayed inflated):
      *
      *  1. `ImageIO.getImageReaders` / `getImageWritersByFormatName`
      *     iterate the IIORegistry under its per-category SubRegistry
      *     monitor — jstack showed task threads BLOCKED there.
      *  2. Every javax.imageio.stream cache stream (File AND Memory
      *     variants) registers with the `sun.java2d.Disposer` singleton
      *     in its constructor — a second global monitor per image. The
      *     File variants additionally create one TEMP FILE per image
      *     (`Files.createTempFile` serializing on the tmpdir lock).
      *
      * So: the registry is consulted ONCE (class init) for the reader
      * SPI list; reader INSTANCES are cached per executor thread (they
      * are reusable but not thread-safe); payloads are wrapped in the
      * plain ImageInputStreamImpl subclass below — a pure byte-array
      * stream, no Disposer, no temp files, no locks; and PNG ENCODE
      * bypasses javax.imageio entirely ([[PngOut]] — the JDK writer's
      * native-Deflater-per-image was the third per-image hazard).
      * Measured at sf1: q_multimodal_imageio 9.45s → 0.9s wall / 195s →
      * 8s executor CPU, and the 1600s-CPU slow mode is gone.
      */
    private val readerSpis: Array[ImageReaderSpi] = {
      val it = IIORegistry.getDefaultInstance
        .getServiceProviders(classOf[ImageReaderSpi], true)
      val b = Array.newBuilder[ImageReaderSpi]
      while (it.hasNext) b += it.next()
      b.result()
    }

    private val threadReaders =
      ThreadLocal.withInitial[java.util.HashMap[ImageReaderSpi, ImageReader]](
        () => new java.util.HashMap)


    /** Format-sniff against the cached SPI list (each `canDecodeInput`
      * reads a few magic bytes and restores the stream position), then
      * reuse this thread's reader instance for the winning format.
      */
    private def readerFor(iis: javax.imageio.stream.ImageInputStream,
        nBytes: Int): ImageReader = {
      var i = 0
      while (i < readerSpis.length) {
        val spi = readerSpis(i)
        // ImageIO.getImageReaders treats an IOException from a probe as
        // "can't decode" (e.g. BMP's SPI readFully-throws EOF on a
        // payload shorter than its magic); a throwing probe may also
        // skip its own position reset, so rewind before the next one.
        val pos = iis.getStreamPosition
        val ok =
          try spi.canDecodeInput(iis)
          catch { case _: java.io.IOException => iis.seek(pos); false }
        if (ok) {
          val cache = threadReaders.get()
          var r = cache.get(spi)
          if (r == null) { r = spi.createReaderInstance(); cache.put(spi, r) }
          return r
        }
        i += 1
      }
      throw new UndecodablePayload(s"no image reader for $nBytes bytes")
    }

    override def meta(bytes: Array[Byte]): (Int, Int, String) = {
      val iis = new ByteArrayImageInputStream(bytes)
      val r = readerFor(iis, bytes.length)
      try {
        r.setInput(iis, true, true)
        (r.getWidth(0), r.getHeight(0), r.getFormatName.toLowerCase(java.util.Locale.ROOT))
      } finally r.reset() // clears input; instance stays cached for reuse
    }

    override def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val img = decode(bytes)
      val out = new Array[Float](dim)
      val (w, h) = (img.getWidth, img.getHeight)
      // Single-band (grayscale) images read raster samples directly:
      // getRGB would round-trip them through the gray→sRGB color
      // transform, which brightens dark values and breaks byte-exact
      // statistics. Multi-band images use integer Rec.601 luma.
      val gray = img.getRaster.getNumBands == 1
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val luma =
            if (gray) img.getRaster.getSample(x, y, 0)
            else {
              val rgb = img.getRGB(x, y)
              (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
            }
          out(luma * dim / 256) += 1f
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toFloat
      var i = 0
      while (i < dim) { out(i) /= n; i += 1 }
      out
    }

    private def decode(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new ByteArrayImageInputStream(bytes)
      val r = readerFor(iis, bytes.length)
      try {
        r.setInput(iis, true, true)
        r.read(0)
      } finally r.reset()
    }
  }

  /** Minimal PNG container writer (signature + IHDR + one IDAT + IEND,
    * filter 0, bit depth 8, no interlace) over a PER-THREAD reused
    * java.util.zip.Deflater. The JDK's PNGImageWriter allocates a fresh
    * native Deflater (≈ a quarter-MB mmap'd zlib window) per image, and
    * at 40k images × 32 threads the mmap/munmap + first-touch page-fault
    * traffic serializes on the process memory-map lock — jstack showed
    * all 32 task threads "running" inside `Deflater.deflateBytesBytes`
    * while the pass burned up to 30× the CPU of an identical lucky pass.
    * Readers don't care that the IDAT is a single chunk; every PNG
    * decoder (including the JDK's) round-trips these byte-exactly.
    */
  private[operators] object PngOut {
    private val deflaters =
      ThreadLocal.withInitial[java.util.zip.Deflater](
        () => new java.util.zip.Deflater())

    /** Gray 8-bit: scanlines built here from the packed pixel array. */
    def encodeGray(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
      val raw = new Array[Byte]((w + 1) * h)
      var y = 0
      while (y < h) {
        // filter byte 0 at raw(y*(w+1)); rows beyond the pixel tail stay 0
        val src = y * w
        val n = math.max(0, math.min(w, pixels.length - src))
        if (n > 0) System.arraycopy(pixels, src, raw, y * (w + 1) + 1, n)
        y += 1
      }
      encode(w, h, raw)
    }

    /** `raw` = filter-prefixed 8-bit gray scanlines. */
    private def encode(w: Int, h: Int, raw: Array[Byte]): Array[Byte] = {
      val d = deflaters.get()
      d.reset()
      d.setInput(raw)
      d.finish()
      val comp = new java.io.ByteArrayOutputStream(raw.length / 2 + 256)
      val buf = new Array[Byte](64 * 1024)
      while (!d.finished()) {
        val n = d.deflate(buf)
        if (n > 0) comp.write(buf, 0, n)
      }
      val idat = comp.toByteArray
      val out = java.nio.ByteBuffer.allocate(8 + 25 + (12 + idat.length) + 12)
      out.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
      val ihdr = java.nio.ByteBuffer.allocate(13)
      ihdr.putInt(w).putInt(h)
        .put(8.toByte).put(0.toByte) // bit depth 8, color type 0 (gray)
        .put(0.toByte).put(0.toByte).put(0.toByte)
      writeChunk(out, "IHDR", ihdr.array())
      writeChunk(out, "IDAT", idat)
      writeChunk(out, "IEND", Array.emptyByteArray)
      out.array()
    }

    private def writeChunk(out: java.nio.ByteBuffer, typ: String,
        data: Array[Byte]): Unit = {
      out.putInt(data.length)
      val t = typ.getBytes(StandardCharsets.US_ASCII)
      out.put(t)
      out.put(data)
      val crc = new java.util.zip.CRC32
      crc.update(t)
      crc.update(data)
      out.putInt(crc.getValue.toInt)
    }
  }

  /** Pure in-memory ImageInputStream. Unlike every stock
    * javax.imageio.stream implementation it touches NO global state —
    * no sun.java2d.Disposer registration, no temp file — so per-image
    * construction at 32 threads is allocation-only (see ImageIoDecoder).
    */
  private final class ByteArrayImageInputStream(buf: Array[Byte])
      extends javax.imageio.stream.ImageInputStreamImpl {
    override def read(): Int = {
      bitOffset = 0
      if (streamPos >= buf.length) -1
      else { val b = buf(streamPos.toInt) & 0xff; streamPos += 1; b }
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      bitOffset = 0
      // Contract: a zero-length read returns 0 even at EOF; -1 means
      // end-of-stream only for a read that requested bytes.
      if (len == 0) 0
      else if (streamPos >= buf.length) -1
      else {
        val n = math.min(len, buf.length - streamPos.toInt)
        System.arraycopy(buf, streamPos.toInt, b, off, n)
        streamPos += n
        n
      }
    }
    override def length(): Long = buf.length.toLong
    override def isCached: Boolean = true
    override def isCachedMemory: Boolean = true
  }


  /** Deterministic fake: dimensions and features derived from the bytes
    * themselves, so tests are stable and the oracle-free path is still
    * checkable. Marked stub per the builder contract.
    */
  object StubDecoder extends ImageDecoder {
    override def meta(bytes: Array[Byte]): (Int, Int, String) = {
      val w = 16 + (if (bytes.isEmpty) 0 else (bytes.head & 0x7f))
      val h = 16 + (if (bytes.length < 2) 0 else (bytes(1) & 0x7f))
      val fmt = if (bytes.length % 2 == 0) "png" else "jpeg"
      (w, h, fmt)
    }
    override def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < bytes.length) { out(i % dim) += (bytes(i) & 0xff) / 255.0f; i += 1 }
      out
    }
  }

  /** Fake payload attach for the harness tables (no binary column ships
    * in testdata): utf-8 bytes of the text as the opaque payload.
    */
  def attachPayload(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("payload", encode(col(textCol), "UTF-8"))

  /** REAL image payload attach: render each document's utf-8 bytes as the
    * grayscale pixels of a near-square PNG (width = ceil(sqrt(n)),
    * height = ceil(n/width), zero-padded tail), encoded with the JDK PNG
    * writer. The payloads are genuine PNGs — [[ImageIoDecoder]] exercises
    * its true codec path on them — while the decoded dimensions keep a
    * closed form a SQL oracle can replay from `length(text)`.
    */
  def attachImagePayload(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val schema = docs.schema.add("payload", BinaryType)
    val textIdx = docs.schema.fieldIndex(textCol)
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    // Codec work must never inherit the scan's partitioning: a small
    // parquet file reads as ONE split, and per-row PNG encode is orders
    // of magnitude heavier than the row shuffle that spreads it. Fan out
    // to the session's shuffle width before the imperative pass.
    fanOut(docs).mapPartitions { it =>
      it.map { row =>
        val text = row.getString(textIdx)
        val png: Array[Byte] =
          if (text == null) null
          else {
            val bytes = text.getBytes(StandardCharsets.UTF_8)
            val n = bytes.length
            val w = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
            val h = math.max(1, (n + w - 1) / w)
            // Straight to scanlines — no BufferedImage/raster on the
            // encode side; PngOut zero-pads the w·h − n tail.
            PngOut.encodeGray(w, h, bytes)
          }
        Row.fromSeq(row.toSeq :+ png)
      }
    }(encoder)
  }

  /** Batch decode: payload → metadata struct. Runs per-partition with a
    * decoder instance initialized once per partition (mapInPandas shape).
    * Null or undecodable payloads → null struct (quarantine, not failure).
    */
  def decodeMeta(df: DataFrame, payloadCol: String = "payload",
      decoder: ImageDecoder = ImageIoDecoder): DataFrame = {
    val schema = df.schema.add("image_meta", imageMetaType)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { it =>
      decoder.init() // once per partition — where a real codec loads
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](payloadIdx)
        val metaRow: Row =
          if (bytes == null) null
          else
            try {
              val (w, h, fmt) = decoder.meta(bytes)
              Row(w, h, fmt, bytes.length.toLong)
            } catch { case _: UndecodablePayload => null }
        Row.fromSeq(row.toSeq :+ metaRow)
      }
    }(encoder)
  }

  /** Feature extraction: payload → fixed-dim float vector (embedding-like,
    * feeds straight into [[Similarity]]).
    */
  def extractFeatures(df: DataFrame, dim: Int = 16, payloadCol: String = "payload",
      decoder: ImageDecoder = ImageIoDecoder): DataFrame = {
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    val schema = df.schema.add("features", ArrayType(FloatType))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { it =>
      decoder.init()
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](payloadIdx)
        val feats =
          if (bytes == null) null
          else
            try decoder.features(bytes, dim).toSeq
            catch { case _: UndecodablePayload => null }
        Row.fromSeq(row.toSeq :+ feats)
      }
    }(encoder)
  }

  /** Deterministic frame-sample stub: every k-th byte window as a "frame"
    * payload list — the plumbing for video columns (one row in, array of
    * frame payloads out, exploded downstream).
    */
  def frameSample(df: DataFrame, everyN: Int, frameBytes: Int = 64,
      payloadCol: String = "payload"): DataFrame =
    df.withColumn("frames",
      expr(s"transform(sequence(0, CAST(greatest(length($payloadCol) - 1, 0) AS INT) DIV ($everyN * $frameBytes)), " +
        s"i -> substring($payloadCol, i * $everyN * $frameBytes + 1, $frameBytes))"))

  /** Round-robin fan-out to the session's shuffle width — the pre-codec
    * balancing move. Skipped when the input is already at least that wide
    * (no gratuitous shuffle on an already-parallel pipeline).
    */
  private def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  // ---- audio modality -----------------------------------------------

  val audioFeatureType: StructType = StructType(Seq(
    StructField("n_samples", LongType),
    StructField("peak", LongType),
    StructField("rms", DoubleType),
    StructField("zero_crossings", LongType)))

  /** PCM16LE audio payload synth: a sawtooth wave whose length and
    * frequency derive from `doc_id`, so the payload is genuine
    * little-endian 16-bit PCM (the [[audioFeatures]] parser exercises a
    * real byte-level codec path) while every decoded sample keeps the
    * closed form `((i·f) mod 256 − 128)·256` a SQL oracle can replay
    * from the id alone. Sawtooth, not sine: the synth stays in exact
    * integer arithmetic, so both engines agree bit-for-bit.
    */
  def attachAudioPayload(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = docs.schema.add("audio", BinaryType)
    val idIdx = docs.schema.fieldIndex(idCol)
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    fanOut(docs).mapPartitions { it =>
      it.map { row =>
        val id = row.getLong(idIdx)
        val n = 512 + (id % 5).toInt * 128
        val f = 1 + (id % 7).toInt
        val bytes = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val v = (((i * f) % 256) - 128) * 256
          bytes(2 * i) = (v & 0xff).toByte
          bytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        Row.fromSeq(row.toSeq :+ bytes)
      }
    }(encoder)
  }

  /** Audio feature extraction over PCM16LE payloads: one imperative
    * byte-parse pass per row (per-partition batch shape like the image
    * decoder), emitting the classic signal stats — sample count, peak
    * amplitude, RMS, zero-crossing count. RMS is the only float and is
    * `sqrt(exact-long-sum / n)`: IEEE sqrt is correctly rounded, so the
    * value is bit-identical across engines. Odd-length or null payloads
    * quarantine to a null struct like the image stages.
    */
  def audioFeatures(df: DataFrame, payloadCol: String = "audio"): DataFrame = {
    val schema = df.schema.add("audio_features", audioFeatureType)
    val pIdx = df.schema.fieldIndex(payloadCol)
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](pIdx)
        val feats: Row =
          if (bytes == null || bytes.length % 2 != 0 || bytes.length == 0) null
          else {
            val n = bytes.length / 2
            var i = 0
            var sumSq = 0L
            var peak = 0L
            var zc = 0L
            var prevNeg = false
            while (i < n) {
              val v = (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
              val a = math.abs(v.toLong)
              if (a > peak) peak = a
              sumSq += v.toLong * v
              val neg = v < 0
              if (i > 0 && neg != prevNeg) zc += 1
              prevNeg = neg
              i += 1
            }
            Row(n.toLong, peak, math.sqrt(sumSq.toDouble / n), zc)
          }
        Row.fromSeq(row.toSeq :+ feats)
      }
    }(encoder)
  }
}
