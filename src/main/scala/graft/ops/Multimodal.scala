package graft.ops

import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.CrossHash.{h60Local, h60Sql}

/** Multimodal-column plumbing (the training-data-pipeline surface): media
  * payloads are opaque `binary` columns with typed metadata, and
  * decode / feature-extraction runs as a *batched partition map* over a
  * typed `Dataset` — the Scala analog of `mapInPandas` (iterator of
  * fixed-size batches in, iterator of feature rows out), which is the shape
  * that scales: executors stream batches without materializing a partition,
  * and the feature schema is declared up front so Catalyst plans around it.
  *
  * Two tiers:
  *   - q62/q63/q76: the decode body is a STUB (deterministic fake features
  *     from the raw bytes) — documents the contract over arbitrary corpus
  *     bytes;
  *   - q142/q143/q352: REAL codecs in the same contract — q142 round-trips
  *     genuine PNGs through the JDK's javax.imageio codec and verifies
  *     every decoded pixel against the arithmetic oracle; q143 parses real
  *     RIFF/WAVE PCM with a hand-rolled little-endian reader; q352 demuxes
  *     a genuine RIFF/AVI container frame-by-frame (q76's real twin — all
  *     three modalities now have a real-codec tier). A production
  *     deployment swaps ONLY the batch body for its codec; every Spark-side
  *     contract (binary payloads, batch iterator, declared feature schema,
  *     partitioning) stays identical across all of them.
  */
object Multimodal {

  /** One media row: opaque payload + routing metadata. */
  final case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Declared feature schema of the decode stage. */
  final case class MediaFeatures(doc_id: Long, media_type: String,
                                 n_bytes: Long, fp60: Long, width: Int, height: Int)

  /** Arrow-like batch size of the partition map (mapInPandas analog). */
  val DecodeBatchSize = 64

  /** The corpus id column, spread for a per-row-expensive codec stage: the
    * one-file-one-row-group driver corpora feed a bare scan's downstream
    * kernel from a SINGLE task (guide §2.5 / §6 — maxPartitionBytes cannot
    * split a row group), so the encode/decode tier ran serial however many
    * cores the session had. The exchange ships bare ids and its width is
    * scale-adaptive (rows/2k with the parallelism floor). */
  private def codecIds(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.util.Sizing.spreadKernel(
      Tables.documents(s, d).select(org.apache.spark.sql.functions.col("doc_id")),
      graft.util.Sizing.parquetRowCount(d, "documents"), perTask = 2000L)

  /** q184's staged PNG directories by source dir: the staged files are a
    * pure function of the doc_id slice, so one JVM stages each corpus ONCE
    * and every later run (bench reps 2..n) goes straight to the binaryFile
    * scan — re-writing ~1000 small files per rep was pure staging I/O, the
    * only real r10 bench regression (0.63s → 1.92s). */
  private val stagedPngDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** STUB decoder: deterministic fake features from the raw bytes. The md5
    * fingerprint mirrors the SQL oracle's h60; width/height are arithmetic
    * functions of it (standing in for decoded media dimensions). */
  def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      val fp = h60Local(new String(r.payload, "UTF-8"))
      MediaFeatures(r.doc_id, r.media_type,
        n_bytes = r.payload.length.toLong,
        fp60 = fp,
        width  = (fp % 1856L + 64L).toInt,
        height = (fp % 1016L + 64L).toInt)
    }

  /** Frame-sampling stub: treat the payload as fixed-size 16-byte "frames"
    * (trailing partial dropped), sample every 4th, fingerprint each sampled
    * frame. A real video decoder replaces frame extraction; the sampling
    * cadence, per-doc aggregation and feature schema are the real contract. */
  final case class FrameFeatures(doc_id: Long, n_frames: Long, n_sampled: Long,
                                 fp_first: Long, fp_sum_mod: Long)
  val FrameBytes = 16
  val SampleEvery = 4
  val FpMod = 1000000007L

  def frameSampleBatch(batch: Seq[MediaRecord]): Seq[FrameFeatures] =
    batch.flatMap { r =>
      val nFrames = r.payload.length / FrameBytes
      if (nFrames == 0) None
      else {
        val sampled = (0 until nFrames by SampleEvery).map { i =>
          h60Local(new String(r.payload, i * FrameBytes, FrameBytes, "UTF-8"))
        }
        Some(FrameFeatures(r.doc_id, nFrames.toLong, sampled.size.toLong,
          sampled.head, sampled.map(_ % FpMod).sum % FpMod))
      }
    }

  // ---- REAL decoders (q142/q143) ------------------------------------------
  // The stub tier above documents the contract; these two run genuine
  // codecs inside the same batched partition map: q142 decodes real PNG
  // bytes through the JDK's javax.imageio codec (zlib inflate, filters,
  // the lot), q143 parses real RIFF/WAVE PCM with a hand-rolled
  // little-endian reader. Payloads are synthesized images/waveforms whose
  // pixel/sample values are arithmetic in (doc_id, position) — so the
  // DuckDB oracle verifies every decoded value without any codec.

  /** q142 tile geometry. */
  val TileW = 16
  val TileH = 16

  // ImageIO's default stream cache is DISK-backed: every encode/decode
  // wraps its stream in a FileCache* stream that creates and deletes a
  // temp FILE, so 32 codec threads serialize on /tmp metadata at 1M+
  // images per run (measured: q142 22.7x per decade at sf10, spread 20s).
  // Byte-array payloads never need spill-to-disk; memory-backed cache is
  // the production setting. Object-init runs once per executor JVM.
  javax.imageio.ImageIO.setUseCache(false)

  /** q184: upper doc_id bound on the staged PNG fixture — covers every doc
    * at the oracle-gated and bench SFs (sf0.01 has 500 docs, sf0.1 has
    * 5000) while pinning the directory at a FIXED 1000 files beyond, so
    * the scale board measures the binaryFile list/read path instead of
    * 10k-100k files of one-time fixture I/O. */
  val PngFixtureBound = 5000L

  /** Deterministic RGB for (doc, x, y) — shared by encoder and oracle. */
  private def synthR(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt
  private def synthG(id: Long, x: Int, y: Int): Int = ((id * 17 + x * 11 + y * 3) % 256).toInt
  private def synthB(id: Long, x: Int, y: Int): Int = ((id * 23 + x * 5 + y * 19) % 256).toInt

  /** Encode one synthetic tile as a real PNG (JDK codec, headless-safe). */
  def encodePng(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      TileW, TileH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < TileH) {
      var x = 0
      while (x < TileW) {
        img.setRGB(x, y,
          (synthR(id, x, y) << 16) | (synthG(id, x, y) << 8) | synthB(id, x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  final case class PngFeatures(doc_id: Long, width: Int, height: Int,
                               sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL decode: full PNG parse via the JDK codec, per-channel integer
    * sums over the decoded pixels. */
  def decodePngBatch(batch: Seq[MediaRecord]): Seq[PngFeatures] =
    batch.map { rec =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(rec.payload))
      require(img != null, s"doc ${rec.doc_id}: payload is not a decodable image")
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
        y += 1
      }
      PngFeatures(rec.doc_id, img.getWidth, img.getHeight, sr, sg, sb)
    }

  /** q143 waveform geometry: 16-bit mono PCM, `WavSamples` samples. */
  val WavSamples = 256
  val WavRate = 8000

  /** Deterministic 16-bit sample for (doc, i) — shared with the oracle. */
  private def synthSample(id: Long, i: Int): Int =
    ((id * 7919 + i.toLong * 31) % 2048 - 1024).toInt

  /** Encode a real RIFF/WAVE file (44-byte canonical header + LE samples). */
  def encodeWav(id: Long): Array[Byte] = {
    val dataLen = WavSamples * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(WavRate).putInt(WavRate * 2) // byte rate = rate * block align
      .putShort(2).putShort(16) // block align, bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < WavSamples) { buf.putShort(synthSample(id, i).toShort); i += 1 }
    buf.array()
  }

  final case class WavFeatures(doc_id: Long, sample_rate: Int, n_samples: Long,
                               peak_abs: Long, sum_abs: Long)

  /** REAL parse: validate the RIFF/fmt/data chunk layout, then read the
    * little-endian PCM stream — integer peak and absolute-sum features. */
  def decodeWavBatch(batch: Seq[MediaRecord]): Seq[WavFeatures] =
    batch.map { rec =>
      val buf = java.nio.ByteBuffer.wrap(rec.payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = { val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII") }
      require(tag() == "RIFF", s"doc ${rec.doc_id}: not RIFF"); buf.getInt
      require(tag() == "WAVE", s"doc ${rec.doc_id}: not WAVE")
      require(tag() == "fmt ", s"doc ${rec.doc_id}: missing fmt "); buf.getInt
      val fmt = buf.getShort; val ch = buf.getShort
      val rate = buf.getInt; buf.getInt; buf.getShort
      val bits = buf.getShort
      require(fmt == 1 && ch == 1 && bits == 16,
        s"doc ${rec.doc_id}: not 16-bit mono PCM")
      require(tag() == "data", s"doc ${rec.doc_id}: missing data chunk")
      val dataLen = buf.getInt
      val n = dataLen / 2
      var (peak, sum) = (0L, 0L)
      var i = 0
      while (i < n) {
        val a = math.abs(buf.getShort.toLong)
        if (a > peak) peak = a
        sum += a
        i += 1
      }
      WavFeatures(rec.doc_id, rate, n.toLong, peak, sum)
    }

  // ---- REAL JPEG + EXIF metadata (q355, the q184 ingest's metadata tier) --

  /** Deterministic EXIF facts for a doc — shared with the oracle. The
    * byte order ALTERNATES by id so the parser's endianness handling is
    * inside the gate, not just the happy path. */
  private def exifOrientation(id: Long): Int = (1 + id % 8).toInt
  private def exifDateTime(id: Long): String =
    f"2020:01:${1 + id % 28}%02d ${id % 24}%02d:00:00"
  private def exifLittleEndian(id: Long): Boolean = id % 2 == 0

  /** Encode one synthetic tile as a REAL JPEG (the JDK's actual DCT
    * codec) and splice a hand-built EXIF APP1 segment directly after SOI
    * — the standard layout every camera emits. The TIFF payload is built
    * byte-for-byte (header, IFD0 with Orientation SHORT + DateTime ASCII,
    * out-of-line value area) in the id-selected byte order. JPEG pixels
    * are LOSSY, so unlike q142/q352 the pixel values are NOT the oracle
    * surface here — the metadata and the SOF geometry are. */
  def encodeJpegExif(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      TileW, TileH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < TileH) {
      var x = 0
      while (x < TileW) {
        img.setRGB(x, y,
          (synthR(id, x, y) << 16) | (synthG(id, x, y) << 8) | synthB(id, x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = bos.toByteArray
    require((jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8,
      "JDK JPEG writer did not emit SOI")
    // TIFF payload: header(8) + count(2) + 2 IFD entries(24) + next(4),
    // DateTime's 20 ASCII bytes out-of-line at offset 38 (from TIFF start)
    val le = exifLittleEndian(id)
    val tiff = java.nio.ByteBuffer.allocate(38 + 20).order(
      if (le) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    tiff.put((if (le) "II" else "MM").getBytes("US-ASCII"))
      .putShort(42).putInt(8) // magic, IFD0 offset
      .putShort(2) // entry count
      .putShort(0x0112.toShort).putShort(3).putInt(1) // Orientation SHORT×1
    tiff.putShort(exifOrientation(id).toShort).putShort(0) // value padded to 4
      .putShort(0x0132.toShort).putShort(2).putInt(20).putInt(38) // DateTime
      .putInt(0) // next IFD: none
      .put(exifDateTime(id).getBytes("US-ASCII")).put(0.toByte)
    val body = tiff.array()
    val app1 = java.nio.ByteBuffer.allocate(2 + 2 + 6 + body.length)
      .order(java.nio.ByteOrder.BIG_ENDIAN) // marker lengths are always BE
    app1.putShort(0xffe1.toShort).putShort((2 + 6 + body.length).toShort)
      .put("Exif".getBytes("US-ASCII")).putShort(0).put(body)
    val out = new Array[Byte](jpeg.length + app1.capacity())
    System.arraycopy(jpeg, 0, out, 0, 2) // SOI
    System.arraycopy(app1.array(), 0, out, 2, app1.capacity())
    System.arraycopy(jpeg, 2, out, 2 + app1.capacity(), jpeg.length - 2)
    out
  }

  final case class JpegMeta(doc_id: Long, width: Int, height: Int,
                            orientation: Int, exif_datetime: String,
                            byte_order: String)

  /** REAL metadata extraction: walk the JPEG marker stream (SOI, then
    * length-prefixed segments to SOS), take geometry from the codec's own
    * SOF frame header and the EXIF facts from the APP1 TIFF structure —
    * byte-order-aware IFD walking (II and MM both occur in the corpus by
    * construction), inline SHORT values read at the platform-independent
    * value slot, out-of-line ASCII read at its TIFF-relative offset with
    * bounds checks. Unknown markers skip by declared length — the same
    * walk-the-tree contract as the q352 demuxer. */
  def extractJpegMetaBatch(batch: Seq[MediaRecord]): Seq[JpegMeta] =
    batch.map { rec =>
      val b = rec.payload
      def u8(i: Int): Int = b(i) & 0xff
      def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
      require(b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8,
        s"doc ${rec.doc_id}: not a JPEG (no SOI)")
      var pos = 2
      var width = -1; var height = -1
      var orientation = -1; var dt: String = null; var order: String = null
      var done = false
      while (!done) {
        require(pos + 2 <= b.length, s"doc ${rec.doc_id}: truncated marker")
        require(u8(pos) == 0xff, s"doc ${rec.doc_id}: marker sync lost")
        // a run of 0xFF bytes before the marker byte is legal FILL (JPEG
        // B.1.1.2 — real camera writers pad with them); skip to the last
        // 0xFF of the run so `base+1` is the marker byte proper (r17 ADVICE)
        var base = pos
        while (base + 1 < b.length && u8(base + 1) == 0xff) base += 1
        require(base + 2 <= b.length, s"doc ${rec.doc_id}: truncated marker")
        val marker = u8(base + 1)
        if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
          // TEM / RSTn: STANDALONE markers carry no length field — a
          // length-prefixed read here would desync the whole walk
          pos = base + 2
        } else {
        require(base + 4 <= b.length, s"doc ${rec.doc_id}: truncated marker")
        val len = be16(base + 2) // includes the length field itself
        require(len >= 2 && base + 2 + len <= b.length,
          s"doc ${rec.doc_id}: segment overruns the file")
        val pos0 = base // segment-relative offsets below read from here
        if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) { // SOF
          height = be16(pos0 + 5); width = be16(pos0 + 7)
        } else if (marker == 0xe1 && len >= 8 &&
            new String(b, pos0 + 4, 4, "US-ASCII") == "Exif") {
          val t0 = pos0 + 10 // TIFF header start (after "Exif\0\0")
          val bo = new String(b, t0, 2, "US-ASCII")
          require(bo == "II" || bo == "MM",
            s"doc ${rec.doc_id}: bad TIFF byte order '$bo'")
          order = bo
          val le = bo == "II"
          def t16(i: Int): Int =
            if (le) u8(t0 + i) | (u8(t0 + i + 1) << 8)
            else (u8(t0 + i) << 8) | u8(t0 + i + 1)
          def t32(i: Int): Int =
            if (le) u8(t0 + i) | (u8(t0 + i + 1) << 8) |
              (u8(t0 + i + 2) << 16) | (u8(t0 + i + 3) << 24)
            else (u8(t0 + i) << 24) | (u8(t0 + i + 1) << 16) |
              (u8(t0 + i + 2) << 8) | u8(t0 + i + 3)
          require(t16(2) == 42, s"doc ${rec.doc_id}: bad TIFF magic")
          val ifd = t32(4)
          val n = t16(ifd)
          var e = 0
          while (e < n) {
            val off = ifd + 2 + e * 12
            val tag = t16(off); val typ = t16(off + 2)
            val cnt = t32(off + 4)
            if (tag == 0x0112 && typ == 3) orientation = t16(off + 8)
            else if (tag == 0x0132 && typ == 2) {
              val vOff = t32(off + 8)
              require(t0 + vOff + cnt <= b.length,
                s"doc ${rec.doc_id}: ASCII value overruns the file")
              dt = new String(b, t0 + vOff, cnt - 1, "US-ASCII") // drop NUL
            }
            e += 1
          }
        } else if (marker == 0xda) done = true // SOS: entropy data follows
        if (!done) pos = base + 2 + len
        }
      }
      require(width > 0 && height > 0, s"doc ${rec.doc_id}: no SOF marker")
      require(order != null, s"doc ${rec.doc_id}: no EXIF APP1 segment")
      JpegMeta(rec.doc_id, width, height, orientation, dt, order)
    }

  // ---- REAL video container (q352, the q76 stub's real-codec twin) -------

  /** q352 geometry: `VidFrames` uncompressed RGB24 frames of
    * `VidW`×`VidH`, every `VidSampleEvery`-th frame sampled. W chosen so
    * a DIB row (3·W bytes) is already 4-byte aligned — no pad bytes. */
  val VidW = 16
  val VidH = 12
  val VidFrames = 8
  val VidSampleEvery = 2
  val VidFps = 10

  /** Deterministic RGB for (doc, frame, x, y) — shared with the oracle. */
  private def synthVR(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 41 + x * 7 + y * 13) % 256).toInt
  private def synthVG(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 17 + f * 29 + x * 11 + y * 3) % 256).toInt
  private def synthVB(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 23 + f * 37 + x * 5 + y * 19) % 256).toInt

  /** Encode a real RIFF/AVI container: canonical hdrl (avih + one video
    * strl with a DIB BITMAPINFOHEADER) and a movi list of `00db`
    * uncompressed frames — DIB convention: bottom-up rows, BGR byte
    * order. The same canonical-layout honesty as q143's 44-byte WAV:
    * every structure a compliant demuxer reads is present and correct. */
  def encodeAvi(id: Long): Array[Byte] = {
    val frameBytes = VidW * VidH * 3
    val moviSize = 4 + VidFrames * (8 + frameBytes) // 'movi' + chunks
    val hdrlSize = 4 + (8 + 56) + (12 + (8 + 56) + (8 + 40)) // 'hdrl' avih strl
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) // 'AVI ' LIST LIST
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(t: String): Unit = buf.put(t.getBytes("US-ASCII"))
    tag("RIFF"); buf.putInt(riffSize); tag("AVI ")
    tag("LIST"); buf.putInt(hdrlSize); tag("hdrl")
    tag("avih"); buf.putInt(56)
    buf.putInt(1000000 / VidFps).putInt(frameBytes * VidFps).putInt(0)
      .putInt(0x10 /*AVIF_HASINDEX off; plain*/)
      .putInt(VidFrames).putInt(0).putInt(1).putInt(frameBytes)
      .putInt(VidW).putInt(VidH).putInt(0).putInt(0).putInt(0).putInt(0)
    tag("LIST"); buf.putInt(4 + (8 + 56) + (8 + 40)); tag("strl")
    tag("strh"); buf.putInt(56)
    tag("vids"); tag("DIB ")
    buf.putInt(0).putInt(0).putInt(0)
      .putInt(1).putInt(VidFps) // scale, rate → fps
      .putInt(0).putInt(VidFrames).putInt(frameBytes)
      .putInt(-1).putInt(frameBytes)
    buf.putShort(0).putShort(0).putShort(VidW.toShort).putShort(VidH.toShort)
    tag("strf"); buf.putInt(40)
    buf.putInt(40).putInt(VidW).putInt(VidH)
      .putShort(1).putShort(24).putInt(0 /*BI_RGB*/)
      .putInt(frameBytes).putInt(0).putInt(0).putInt(0).putInt(0)
    tag("LIST"); buf.putInt(moviSize); tag("movi")
    var f = 0
    while (f < VidFrames) {
      tag("00db"); buf.putInt(frameBytes)
      var y = VidH - 1 // DIB rows bottom-up
      while (y >= 0) {
        var x = 0
        while (x < VidW) {
          buf.put(synthVB(id, f, x, y).toByte) // DIB pixels are B,G,R
            .put(synthVG(id, f, x, y).toByte)
            .put(synthVR(id, f, x, y).toByte)
          x += 1
        }
        y -= 1
      }
      f += 1
    }
    buf.array()
  }

  // ---- MJPEG-in-AVI (q358): compressed video, REAL per-frame decode ----

  /** q358's frame pixels: SMOOTH linear planes (per-frame base + small
    * x/y gradients, no mod-256 wrap) rather than q352's sawtooth — the
    * witness bound must separate decode bugs from codec loss, and a
    * wrapping pattern's step edges ring past any useful bound under
    * 4:2:0 chroma subsampling, while a linear plane's DCT is two
    * coefficients and its subsampled chroma is the same plane. Measured
    * max abs channel error ~5-25 under the default JDK encoder. */
  private def synthMR(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 41) % 128 + 2 * x + 3 * y).toInt
  private def synthMG(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 17 + f * 29) % 128 + 3 * x + 2 * y).toInt
  private def synthMB(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 23 + f * 37) % 128 + x + 4 * y).toInt

  /** Encode a real MJPEG AVI: the same canonical RIFF/hdrl/movi layout as
    * [[encodeAvi]], but the stream is `MJPG`-compressed — each movi chunk
    * is `00dc` holding one COMPLETE JDK-encoded JPEG image (the MJPEG
    * convention: every frame independently coded, no inter-frame state),
    * so chunk sizes vary and every size field is computed from the actual
    * encoded bytes. Frame pixels are the q352 synthetic RGB. */
  def encodeMjpegAvi(id: Long): Array[Byte] = {
    // encode quality PINNED explicitly (r18 ADVICE: recon_ok's 48/255
    // bound was measured against ImageIO's implicit default — JPEG
    // quantization tables are codec-implementation detail, so an
    // unpinned quality is one more free variable between JDK vendors).
    // 0.9 keeps max abs channel error ~3-15 on these smooth-gradient
    // planes (vs ~5-25 at the old default 0.75), so the 48/255 witness
    // carries >3× margin. Residual JDK assumption, documented: the
    // DECODER (IDCT/upsampling) is still the platform's — pinning
    // quality removes the encoder's quantization variance, and the
    // witness bound absorbs decoder-side rounding differences.
    // The writer is created ONCE per call and reused across the frames
    // (setOutput resets it; instantiating writer+params per 16×12 frame
    // dominated the encode), and pixels land straight in the raster's int
    // buffer — bit-identical to setRGB here because every synth channel
    // value is < 256 (max 194) so nothing bleeds across channel fields.
    val jw = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpg").next()
    val jp = jw.getDefaultWriteParam
    jp.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    jp.setCompressionQuality(0.9f)
    val frames = try {
      (0 until VidFrames).map { f =>
        val img = new java.awt.image.BufferedImage(
          VidW, VidH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val px = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferInt].getData
        var y = 0
        while (y < VidH) {
          var x = 0
          while (x < VidW) {
            px(y * VidW + x) = (synthMR(id, f, x, y) << 16) |
              (synthMG(id, f, x, y) << 8) | synthMB(id, f, x, y)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        try {
          jw.setOutput(ios)
          jw.write(null, new javax.imageio.IIOImage(img, null, null), jp)
        } finally ios.close()
        bos.toByteArray
      }
    } finally jw.dispose()
    def pad(n: Int) = n + (n & 1) // RIFF chunks pad to even
    val moviSize = 4 + frames.map(fr => 8 + pad(fr.length)).sum
    val maxChunk = frames.map(_.length).max
    val hdrlSize = 4 + (8 + 56) + (12 + (8 + 56) + (8 + 40))
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(t: String): Unit = buf.put(t.getBytes("US-ASCII"))
    tag("RIFF"); buf.putInt(riffSize); tag("AVI ")
    tag("LIST"); buf.putInt(hdrlSize); tag("hdrl")
    tag("avih"); buf.putInt(56)
    buf.putInt(1000000 / VidFps).putInt(maxChunk * VidFps).putInt(0)
      .putInt(0x10)
      .putInt(VidFrames).putInt(0).putInt(1).putInt(maxChunk)
      .putInt(VidW).putInt(VidH).putInt(0).putInt(0).putInt(0).putInt(0)
    tag("LIST"); buf.putInt(4 + (8 + 56) + (8 + 40)); tag("strl")
    tag("strh"); buf.putInt(56)
    tag("vids"); tag("MJPG")
    buf.putInt(0).putInt(0).putInt(0)
      .putInt(1).putInt(VidFps)
      .putInt(0).putInt(VidFrames).putInt(maxChunk)
      .putInt(-1).putInt(maxChunk)
    buf.putShort(0).putShort(0).putShort(VidW.toShort).putShort(VidH.toShort)
    tag("strf"); buf.putInt(40)
    buf.putInt(40).putInt(VidW).putInt(VidH)
      .putShort(1).putShort(24).putInt(0x47504A4D /* 'MJPG' fourcc */)
      .putInt(maxChunk).putInt(0).putInt(0).putInt(0).putInt(0)
    tag("LIST"); buf.putInt(moviSize); tag("movi")
    frames.foreach { fr =>
      tag("00dc"); buf.putInt(fr.length); buf.put(fr)
      if ((fr.length & 1) == 1) buf.put(0.toByte) // even padding
    }
    buf.array()
  }

  final case class MjpegFeatures(doc_id: Long, width: Int, height: Int,
                                 n_frames: Long, n_sampled: Long,
                                 recon_ok: Long)

  /** REAL compressed-video decode: the q352 chunk-tree walk, but each
    * sampled `00dc` chunk is handed WHOLE to the JDK's JPEG decoder (one
    * independent image per frame — the MJPEG contract). JPEG is lossy, so
    * pixel values are not the oracle surface (the q355 doctrine); what IS
    * gated: geometry decoded from the actual bitstream vs avih, frame and
    * sample counts from the walk, and `recon_ok` — an in-result
    * error-bound WITNESS bit (q309/q320's integer-witness doctrine):
    * every sampled frame's per-pixel max abs channel error vs the
    * synthetic source must clear 48/255 (the sawtooth pattern's ringing
    * measures ~20-35 under the JDK encoder's default quality; a decoder
    * that dropped a frame, mis-ordered channels or mis-windowed the chunk
    * reads ~85 = the mean |a-b| of independent uniforms). */
  def decodeMjpegAviBatch(batch: Seq[MediaRecord]): Seq[MjpegFeatures] =
    batch.map { rec =>
      val buf = java.nio.ByteBuffer.wrap(rec.payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      require(tag() == "RIFF", s"doc ${rec.doc_id}: not RIFF"); buf.getInt
      require(tag() == "AVI ", s"doc ${rec.doc_id}: not AVI")
      require(tag() == "LIST", s"doc ${rec.doc_id}: missing hdrl LIST")
      val hdrlSize = buf.getInt
      val hdrlEnd = buf.position() + hdrlSize
      require(tag() == "hdrl", s"doc ${rec.doc_id}: not hdrl")
      require(tag() == "avih", s"doc ${rec.doc_id}: missing avih")
      buf.getInt
      buf.getInt; buf.getInt; buf.getInt; buf.getInt
      buf.getInt // dwTotalFrames (advisory; the walk is ground truth)
      buf.getInt; buf.getInt; buf.getInt
      val w = buf.getInt; val h = buf.getInt
      buf.getInt; buf.getInt; buf.getInt; buf.getInt
      require(tag() == "LIST", s"doc ${rec.doc_id}: missing strl LIST")
      buf.getInt
      require(tag() == "strl", s"doc ${rec.doc_id}: not strl")
      require(tag() == "strh", s"doc ${rec.doc_id}: missing strh")
      val strhSize = buf.getInt
      require(tag() == "vids", s"doc ${rec.doc_id}: first stream not video")
      buf.position(buf.position() + strhSize - 4)
      require(tag() == "strf", s"doc ${rec.doc_id}: missing strf")
      buf.getInt
      buf.getInt // biSize
      require(buf.getInt == w && buf.getInt == h,
        s"doc ${rec.doc_id}: strf geometry disagrees with avih")
      buf.getShort; buf.getShort
      require(buf.getInt == 0x47504A4D,
        s"doc ${rec.doc_id}: stream is not MJPG-compressed")
      buf.position(hdrlEnd)
      var moviEnd = -1
      while (moviEnd < 0) {
        require(buf.remaining() >= 8, s"doc ${rec.doc_id}: no movi LIST")
        val t = tag(); val sz = buf.getInt
        require(sz >= 0 && buf.position() + sz <= buf.limit(),
          s"doc ${rec.doc_id}: chunk '$t' overruns the file")
        if (t == "LIST") {
          val listEnd = buf.position() + sz
          if (tag() == "movi") moviEnd = listEnd
          else buf.position(listEnd + (sz & 1))
        } else buf.position(buf.position() + sz + (sz & 1))
      }
      var f = 0
      var sampled = 0L
      var worst = 0
      while (buf.position() < moviEnd) {
        require(moviEnd - buf.position() >= 8,
          s"doc ${rec.doc_id}: truncated movi chunk header")
        val t = tag()
        val sz = buf.getInt
        val start = buf.position()
        require(sz >= 0 && start + sz <= moviEnd,
          s"doc ${rec.doc_id}: movi chunk '$t' overruns the list")
        if (t == "00dc") {
          if (f % VidSampleEvery == 0) {
            sampled += 1
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(rec.payload, start, sz))
            require(img != null, s"doc ${rec.doc_id}: frame $f did not decode")
            require(img.getWidth == w && img.getHeight == h,
              s"doc ${rec.doc_id}: frame $f decoded ${img.getWidth}x${img.getHeight}, container says ${w}x$h")
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                val er = math.abs(((p >> 16) & 0xff) - synthMR(rec.doc_id, f, x, y))
                val eg = math.abs(((p >> 8) & 0xff) - synthMG(rec.doc_id, f, x, y))
                val eb = math.abs((p & 0xff) - synthMB(rec.doc_id, f, x, y))
                val e = math.max(er, math.max(eg, eb))
                if (e > worst) worst = e
                x += 1
              }
              y += 1
            }
          }
          f += 1
        } else if (t == "00db") f += 1
        buf.position(start + sz + (sz & 1))
      }
      MjpegFeatures(rec.doc_id, w, h, f.toLong, sampled,
        if (worst <= 48) 1L else 0L)
    }

  final case class VideoFeatures(doc_id: Long, width: Int, height: Int,
                                 n_frames: Long, n_sampled: Long,
                                 sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL frame extraction: walk the RIFF chunk tree by tag+size (never by
    * hardcoded offset), read geometry from avih, validate the stream is
    * uncompressed 24-bit DIB from strf, then stream the movi `00db` chunks
    * sampling every `VidSampleEvery`-th frame — per-channel integer sums
    * over the sampled frames' pixels (bottom-up BGR undone). */
  def decodeAviBatch(batch: Seq[MediaRecord]): Seq[VideoFeatures] =
    batch.map { rec =>
      val buf = java.nio.ByteBuffer.wrap(rec.payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      require(tag() == "RIFF", s"doc ${rec.doc_id}: not RIFF"); buf.getInt
      require(tag() == "AVI ", s"doc ${rec.doc_id}: not AVI")
      require(tag() == "LIST", s"doc ${rec.doc_id}: missing hdrl LIST")
      val hdrlSize = buf.getInt
      val hdrlEnd = buf.position() + hdrlSize
      require(tag() == "hdrl", s"doc ${rec.doc_id}: not hdrl")
      require(tag() == "avih", s"doc ${rec.doc_id}: missing avih")
      buf.getInt // avih size
      buf.getInt; buf.getInt; buf.getInt; buf.getInt // usPerFrame..flags
      buf.getInt // total frames
      buf.getInt; buf.getInt; buf.getInt
      val w = buf.getInt; val h = buf.getInt
      buf.getInt; buf.getInt; buf.getInt; buf.getInt
      // validate the video stream's format, then SKIP to the movi list by
      // chunk sizes (a demuxer never assumes layout beyond the spec)
      require(tag() == "LIST", s"doc ${rec.doc_id}: missing strl LIST")
      buf.getInt
      require(tag() == "strl", s"doc ${rec.doc_id}: not strl")
      require(tag() == "strh", s"doc ${rec.doc_id}: missing strh")
      val strhSize = buf.getInt
      require(tag() == "vids", s"doc ${rec.doc_id}: first stream not video")
      buf.position(buf.position() + strhSize - 4)
      require(tag() == "strf", s"doc ${rec.doc_id}: missing strf")
      buf.getInt
      buf.getInt // biSize
      require(buf.getInt == w && buf.getInt == h,
        s"doc ${rec.doc_id}: strf geometry disagrees with avih")
      buf.getShort
      require(buf.getShort == 24, s"doc ${rec.doc_id}: not 24-bit")
      require(buf.getInt == 0, s"doc ${rec.doc_id}: compressed (not BI_RGB)")
      buf.position(hdrlEnd)
      // seek to the movi LIST by tag+size — a compliant file may interpose
      // JUNK padding (or other chunks) between hdrl and movi (r16 ADVICE:
      // the demuxer must walk the chunk tree, not assume adjacency)
      var moviEnd = -1
      while (moviEnd < 0) {
        require(buf.remaining() >= 8, s"doc ${rec.doc_id}: no movi LIST")
        val t = tag(); val sz = buf.getInt
        require(sz >= 0 && buf.position() + sz <= buf.limit(),
          s"doc ${rec.doc_id}: chunk '$t' overruns the file")
        if (t == "LIST") {
          val listEnd = buf.position() + sz
          if (tag() == "movi") moviEnd = listEnd
          else buf.position(listEnd + (sz & 1))
        } else buf.position(buf.position() + sz + (sz & 1))
      }
      val rowBytes = ((w * 3 + 3) / 4) * 4 // DIB rows pad to 4 bytes
      var (sr, sg, sb) = (0L, 0L, 0L)
      var sampled = 0L
      var f = 0 // index over VIDEO frames ('00db'/'00dc' of stream 0)
      // walk the movi list by tag+size to its byte extent: '00db' frames
      // are decoded, anything else a compliant file may carry (audio
      // '01wb', 'JUNK', 'rec ' sub-lists, an index) is SKIPPED — never
      // trusted to be absent, never walked past its declared size
      while (buf.position() < moviEnd) {
        require(moviEnd - buf.position() >= 8,
          s"doc ${rec.doc_id}: truncated movi chunk header")
        val t = tag()
        val sz = buf.getInt
        val start = buf.position()
        require(sz >= 0 && start + sz <= moviEnd,
          s"doc ${rec.doc_id}: movi chunk '$t' overruns the list")
        if (t == "00db") {
          require(sz >= rowBytes * h,
            s"doc ${rec.doc_id}: frame $f chunk smaller than one DIB image")
          if (f % VidSampleEvery == 0) {
            sampled += 1
            var y = h - 1
            while (y >= 0) {
              var x = 0
              val row = start + (h - 1 - y) * rowBytes
              while (x < w) {
                sb += buf.get(row + x * 3) & 0xff
                sg += buf.get(row + x * 3 + 1) & 0xff
                sr += buf.get(row + x * 3 + 2) & 0xff
                x += 1
              }
              y -= 1
            }
          }
          f += 1
        } else if (t == "00dc") f += 1 // compressed video frame: counted,
                                       // not decodable on this DIB stream
        buf.position(start + sz + (sz & 1)) // RIFF chunks pad to even
      }
      // avih's dwTotalFrames is advisory in the wild; the chunk walk is
      // ground truth. On self-encoded payloads the two agree exactly.
      VideoFeatures(rec.doc_id, w, h, f.toLong, sampled, sr, sg, sb)
    }

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q142_png_decode",
      s"REAL image decode in the batched partition map: each doc synthesizes a ${TileW}×${TileH} RGB tile (pixel channels arithmetic in doc_id,x,y), encodes it through the JDK's actual PNG codec, ships the bytes as an opaque binary column, and a second mapPartitions stage DECODES the PNG (zlib inflate + filter reconstruction) and reduces per-channel integer sums. The oracle regenerates the pixel arithmetic — every decoded channel value is verified. Same iterator-of-batches contract as the q62 stub tier, demonstrating the swap-in of a real codec.",
      s"""WITH px AS (SELECT d.doc_id, ux.x, uy.y
         |  FROM documents d,
         |    LATERAL unnest(generate_series(0, ${TileW - 1})) AS ux(x),
         |    LATERAL unnest(generate_series(0, ${TileH - 1})) AS uy(y))
         |SELECT doc_id, $TileW AS width, $TileH AS height,
         |  CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((doc_id * 17 + x * 11 + y * 3) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((doc_id * 23 + x * 5 + y * 19) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // spread ids + persist the tiny feature frame for its one action:
      // the orderBy's range sampler otherwise re-runs the codec lineage
      // twice (see codecIds; guide §2.5 / §1.4)
      val records = codecIds(s, d).as[Long]
        .mapPartitions(_.map(id => MediaRecord(id, "image", encodePng(id))))
      graft.util.CacheOnce.persistForOneAction(
        records
          .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodePngBatch))
          .toDF())
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q184_binaryfile_source",
      s"Image-directory ingest through Spark's binaryFile source — the standard first hop of any multimodal pipeline: every 5th doc's ${TileW}×${TileH} tile (BOUNDED to ids < $PngFixtureBound — a fixed-size fixture at any SF, the q42 fixed-slice doctrine: the operator under test is the binaryFile list+read+filename-key path, and staging 100k+ one-per-doc files at sf1 was 95% fixture I/O, 14.9x in the scale board) is staged as a REAL .png FILE once per (JVM, corpus) (executor-side foreachPartition write, parallel, never a driver loop), `spark.read.format(\"binaryFile\")` with a pushed `*.png` glob lists and reads the directory, the join key comes from the FILE NAME (regexp over the path — the only key an object-store image dump carries), and the q142 JDK decode verifies every pixel downstream. Oracle regenerates the pixel arithmetic for the staged ids.",
      s"""WITH ids AS (SELECT doc_id FROM documents
         |  WHERE doc_id % 5 = 0 AND doc_id < $PngFixtureBound),
         |px AS (SELECT ids.doc_id, ux.x, uy.y
         |  FROM ids,
         |    LATERAL unnest(generate_series(0, ${TileW - 1})) AS ux(x),
         |    LATERAL unnest(generate_series(0, ${TileH - 1})) AS uy(y))
         |SELECT doc_id, $TileW AS width, $TileH AS height,
         |  CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((doc_id * 17 + x * 11 + y * 3) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((doc_id * 23 + x * 5 + y * 19) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // stage ONCE per corpus per JVM: executor-parallel file writes (the
      // object-store dump shape); later invocations reuse the directory.
      // Keyed on the documents.parquet mtime fingerprint, not the path
      // alone — a regenerated corpus with a different doc population under
      // the bound must re-stage, or the staged file set drifts from the
      // oracle's id set
      val dir = stagedPngDirs.getOrElseUpdate(
        graft.util.Scratch.sourceKey(d, "documents"), {
        val stage = graft.util.Scratch.dir("graft-q184-png").toString
        // repartition to the full core count: the parquet read has only a
        // handful of input splits, and staging speed is bounded by writer
        // parallelism (encode + file create per image) — at sf1 this is the
        // difference between ~12s and ~3s of one-time fixture I/O
        Tables.documents(s, d).select(col("doc_id")).as[Long]
          .filter(id => id % 5 == 0 && id < PngFixtureBound)
          .repartition(s.sparkContext.defaultParallelism)
          .foreachPartition { (it: Iterator[Long]) =>
            it.foreach { id =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(stage, s"img-$id.png"), encodePng(id))
            }
          }
        stage
      })
      val files = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(dir)
      files
        .select(regexp_extract(col("path"), "img-(\\d+)\\.png$", 1)
          .cast("long").as("doc_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          MediaRecord(id, "image", bytes)
        }.grouped(DecodeBatchSize).flatMap(decodePngBatch))
        .toDF()
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q143_wav_decode",
      s"REAL audio parse in the batched partition map: each doc synthesizes a $WavSamples-sample 16-bit mono PCM waveform (samples arithmetic in doc_id,i), encodes a genuine RIFF/WAVE file, and the decode stage validates the chunk layout and reads the little-endian sample stream — integer peak and mean-amplitude features, every sample value verified by the arithmetic oracle.",
      s"""WITH sm AS (SELECT d.doc_id, u.i,
         |    abs((d.doc_id * 7919 + u.i * 31) % 2048 - 1024) AS a
         |  FROM documents d,
         |    LATERAL unnest(generate_series(0, ${WavSamples - 1})) AS u(i))
         |SELECT doc_id, $WavRate AS sample_rate,
         |  CAST($WavSamples AS BIGINT) AS n_samples,
         |  CAST(max(a) AS BIGINT) AS peak_abs,
         |  CAST(sum(a) AS BIGINT) AS sum_abs
         |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val records = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => MediaRecord(id, "audio", encodeWav(id))))
      records
        .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeWavBatch))
        .toDF()
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q352_avi_frame_extract",
      s"REAL video frame extraction in the batched partition map — the q76 stub's real-codec twin (r15 worklist 6a, completing the q142-PNG/q143-WAV tier for the third modality): each doc synthesizes $VidFrames ${VidW}×${VidH} RGB24 frames (pixels arithmetic in doc_id,frame,x,y), encodes a genuine RIFF/AVI container (canonical hdrl: avih + a vids strl with a BI_RGB BITMAPINFOHEADER; movi list of uncompressed 00db DIB frames — bottom-up rows, BGR bytes, even-size chunk padding), and the extract stage WALKS the chunk tree by tag+size like a compliant demuxer (geometry from avih, cross-checked against strf; rejects compressed streams), samples every ${VidSampleEvery}nd frame, and reduces per-channel integer sums over the sampled frames with the DIB row order and byte order undone. The oracle regenerates the sampled frames' pixel arithmetic — every extracted channel value of every sampled frame is verified. Same iterator-of-batches contract as the q76 stub; a production deployment swaps ONLY the demuxer body for ffmpeg bindings.",
      s"""WITH fr AS (SELECT unnest(generate_series(0, ${VidFrames - 1}, $VidSampleEvery)) AS f),
         |px AS (SELECT d.doc_id, fr.f, ux.x, uy.y
         |  FROM documents d, fr,
         |    LATERAL unnest(generate_series(0, ${VidW - 1})) AS ux(x),
         |    LATERAL unnest(generate_series(0, ${VidH - 1})) AS uy(y))
         |SELECT doc_id, $VidW AS width, $VidH AS height,
         |  CAST($VidFrames AS BIGINT) AS n_frames,
         |  CAST(${(VidFrames + VidSampleEvery - 1) / VidSampleEvery} AS BIGINT) AS n_sampled,
         |  CAST(sum((doc_id * 31 + f * 41 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((doc_id * 17 + f * 29 + x * 11 + y * 3) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((doc_id * 23 + f * 37 + x * 5 + y * 19) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // measured: the spread+persist combo the heavier codec queries use
      // (q142/q358) REGRESSED this one (+0.14 s sf0.1) — the uncompressed
      // demux is too cheap to pay the exchange + cache overhead; left on
      // the bare scan deliberately
      val records = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => MediaRecord(id, "video", encodeAvi(id))))
      records
        .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeAviBatch))
        .toDF()
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q355_jpeg_exif_extract",
      s"REAL image-metadata extraction — the tier every multimodal ingest runs BEFORE any decode (orientation to un-rotate, timestamps to dedup bursts, geometry to bucket): each doc's ${TileW}×${TileH} tile goes through the JDK's actual lossy JPEG codec, a hand-built EXIF APP1 segment (TIFF header, IFD0 with Orientation SHORT inline + DateTime ASCII out-of-line) is spliced after SOI exactly where cameras put it, and the extract stage is a genuine MARKER-STREAM PARSER: walks length-prefixed JPEG segments to SOS, reads geometry from the codec's own SOF frame header (not from the synth constants), and parses the TIFF/IFD structure in BOTH byte orders — the corpus alternates II/MM by doc id, so endian handling is inside the oracle gate, not a code path a fixture never hits. JPEG pixels are lossy and deliberately NOT the verified surface (q142's PNG covers lossless pixel exactness); the metadata arithmetic is. Same iterator-of-batches contract as q142/q352; a production deployment swaps the splice for real camera files and keeps the parser.",
      s"""SELECT doc_id, $TileW AS width, $TileH AS height,
         |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
         |  printf('2020:01:%02d %02d:00:00', 1 + doc_id % 28, doc_id % 24)
         |    AS exif_datetime,
         |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // measured: the spread+persist combo the heavier codec queries use
      // (q142/q358) REGRESSED this one (+0.15 s sf0.1) — the marker-stream
      // parse is too cheap to pay the exchange + cache overhead; left on
      // the bare scan deliberately
      val records = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => MediaRecord(id, "image", encodeJpegExif(id))))
      records
        .mapPartitions(_.grouped(DecodeBatchSize).flatMap(extractJpegMetaBatch))
        .toDF()
        .withColumn("orientation", col("orientation").cast("long"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q358_mjpeg_avi_decode",
      s"COMPRESSED video, really decoded — q352's demuxer already counted '00dc' chunks; this closes the loop with the codec (r17 worklist 6c): each doc encodes $VidFrames ${VidW}×$VidH frames through the JDK's actual JPEG codec into a real MJPEG AVI ('MJPG' fourcc in strh AND strf biCompression, one complete independently-coded JPEG per '00dc' chunk, all RIFF sizes computed from the actual encoded byte lengths since compressed chunks vary), then the decode stage walks the chunk tree (never offsets), validates the container declares MJPG, and hands every ${VidSampleEvery}-th chunk WHOLE to the JPEG decoder. Lossy pixels are not the oracle surface (the q355 doctrine); gated instead: geometry decoded from the BITSTREAM cross-checked against the container header, frame/sample counts from the walk, and recon_ok — an in-result error-bound WITNESS (q309/q320's integer-witness doctrine): every sampled frame's max abs channel error vs the SMOOTH-gradient synthetic source must clear 48/255 (frames are linear planes, chosen so the bound is meaningful under 4:2:0 chroma subsampling — a sawtooth's step edges ring past any useful bound; measured ~5-25 under default JDK quality, while a dropped frame, swapped channel order or mis-windowed chunk slice reads 60-128+) — so the bit fails on real decode bugs while tolerating quantization. The scale contract is q142's: batched iterator-of-batches mapPartitions, 64 rows per codec call, binary payloads never materialized twice.",
      s"""SELECT doc_id, $VidW AS width, $VidH AS height,
         |  CAST($VidFrames AS BIGINT) AS n_frames,
         |  CAST(${VidFrames / VidSampleEvery} AS BIGINT) AS n_sampled,
         |  CAST(1 AS BIGINT) AS recon_ok
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // spread the codec stage off the one-row-group scan (guide §2.5: the
      // exchange ships bare ids), and persist the tiny feature frame for
      // the one downstream action — the global orderBy's range sampler
      // otherwise re-runs the whole encode+decode lineage a second time
      // (measured: two ~2 s codec passes per run on the sf0.1 board)
      val records = codecIds(s, d).as[Long]
        .mapPartitions(_.map(id => MediaRecord(id, "video", encodeMjpegAvi(id))))
      graft.util.CacheOnce.persistForOneAction(
        records
          .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeMjpegAviBatch))
          .toDF())
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q76_frame_sample",
      "Video-style frame sampling over binary payloads: 16-byte frames, every 4th sampled and fingerprinted in the batched decode STUB; per-doc frame counts and fingerprint digest. Oracle regenerates frames arithmetically (corpus is ASCII, so char and byte offsets agree). The real-codec twin is q352: a genuine RIFF/AVI container demuxed frame-by-frame.",
      s"""WITH f AS (SELECT doc_id, u.i AS i,
         |    ${h60Sql("substr(text, CAST(u.i * 16 + 1 AS INTEGER), 16)")} AS fp
         |  FROM documents,
         |    LATERAL unnest(generate_series(0, len(text) // 16 - 1)) AS u(i)
         |  WHERE len(text) >= 16 AND u.i % 4 = 0)
         |SELECT doc_id,
         |  (SELECT len(text) // 16 FROM documents d2 WHERE d2.doc_id = f.doc_id) AS n_frames,
         |  count(*) AS n_sampled,
         |  max(CASE WHEN i = 0 THEN fp END) AS fp_first,
         |  CAST(sum(fp % 1000000007) % 1000000007 AS BIGINT) AS fp_sum_mod
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // spread + persist-for-one-action: see codecIds / q142's note (the
      // payload here is the text column itself, so the exchange ships it —
      // still tiny relative to the per-row frame walk it parallelizes)
      val records = graft.util.Sizing.spreadKernel(
        Tables.documents(s, d)
          .select(col("doc_id"), lit("video").as("media_type"),
            encode(col("text"), "UTF-8").as("payload")),
        graft.util.Sizing.parquetRowCount(d, "documents"), perTask = 2000L)
        .as[MediaRecord]
      graft.util.CacheOnce.persistForOneAction(
        records
          .mapPartitions(_.grouped(DecodeBatchSize).flatMap(frameSampleBatch))
          .toDF())
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q62_multimodal_features",
      "Binary media ingest + batched decode stub: documents become (binary payload, media_type) records, mapPartitions streams 64-row batches through the feature extractor (mapInPandas shape), emitting the declared feature schema. Deterministic stub features keep the pipeline oracle-verifiable.",
      s"""SELECT doc_id,
         |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         |  ${h60Sql("text")} AS fp60,
         |  CAST(${h60Sql("text")} % 1856 + 64 AS INTEGER) AS width,
         |  CAST(${h60Sql("text")} % 1016 + 64 AS INTEGER) AS height
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val records = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"),
          encode(col("text"), "UTF-8").as("payload"))
        .as[MediaRecord]
      records
        .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeBatch))
        .toDF()
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q63_media_type_stats",
      "Downstream aggregation over the decoded feature frame: per media type, corpus bytes, mean fake-pixel count, and distinct fingerprints — the dedup/inventory pass of a media pipeline.",
      s"""WITH f AS (SELECT doc_id,
         |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         |    ${h60Sql("text")} AS fp60,
         |    CAST(${h60Sql("text")} % 1856 + 64 AS INTEGER) AS width,
         |    CAST(${h60Sql("text")} % 1016 + 64 AS INTEGER) AS height
         |  FROM documents)
         |SELECT media_type,
         |  count(*) AS n_items,
         |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  CAST(sum(CAST(width AS BIGINT) * CAST(height AS BIGINT)) AS BIGINT) AS total_pixels,
         |  count(DISTINCT fp60) AS n_distinct_fp
         |FROM f GROUP BY media_type ORDER BY media_type""".stripMargin) { (s, d) =>
      import s.implicits._
      val records = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"),
          encode(col("text"), "UTF-8").as("payload"))
        .as[MediaRecord]
      records
        .mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeBatch))
        .toDF()
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("width").cast("long") * col("height").cast("long")).as("total_pixels"),
          countDistinct(col("fp60")).as("n_distinct_fp"))
        .orderBy(col("media_type"))
    }
  )
}
