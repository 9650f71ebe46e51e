package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque `binary` columns with typed
  * metadata, plus the decode/feature-extract plumbing.
  *
  * The Spark-side design is real — schema, partition-preserving
  * `mapPartitions`, batch-shaped processing — and the decode stage now
  * splits by format: 24-bit BMP, binary PPM, AND non-interlaced 8-bit
  * PNG (zlib via the public JDK) are decoded FOR REAL by the pure-JVM
  * codecs below, and JPEG decodes for real too ([[decodeJpegRgb]] —
  * baseline SOF0 AND progressive SOF2: huffman + IDCT + fixed-point
  * YCbCr→RGB, cross-checked against javax.imageio in both directions).
  * Each container has one decoder returning one pixel layout, the packed
  * 0xRRGGBB plane; [[decodeImageRgb]] dispatches over them, and every
  * image op reduces that plane with [[rgbSums]] or the gray rule
  * [[grayOf]] ([[imageStats]], [[aHash]], [[avgPool]], oracle-checked
  * value-exactly). Video decodes for real in two
  * containers — uncompressed Y4M and COMPRESSED MJPEG-in-AVI
  * ([[decodeAviMjpegFrames]], per-frame JFIF through the full JPEG
  * path). Only inter-frame codecs (H.264/VP9/AV1), which need an
  * external library by nature, take the [[decodeStub]] fallback —
  * swapping in ffmpeg changes only that function body, not the plan
  * shape.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRecord(media_id: Long, payload: Array[Byte], mime: String)

  /** Extracted features for one media record. */
  case class MediaFeatures(media_id: Long, byte_len: Int, width: Int,
                           height: Int, channels: Int,
                           features: Array[Float])

  /** Wrap a text table as a media table: payload = UTF-8 bytes (stands in for
    * image/audio bytes; the engine never looks inside the payload except in
    * the decode stage). */
  def asMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("payload"),
      lit("application/octet-stream").as("mime"))

  /** The stub "decoded" dimensions as a function of payload length — ONE
    * definition in JVM and Column form, because three call sites
    * (decodeStub, payloadMetadata, sampleFrames) must agree on it: the
    * column-only paths are meaningful precisely because they match what
    * the decode stage would report. Swapping in a real decoder replaces
    * these two definitions together. */
  private def stubWidth(len: Int): Int = len % 64 + 16
  private def stubHeight(len: Int): Int = len % 48 + 16
  private[llm] def stubWidthCol(len: org.apache.spark.sql.Column) = len % 64 + 16
  private[llm] def stubHeightCol(len: org.apache.spark.sql.Column) = len % 48 + 16

  /** STUB decode: deterministic fake "image decode + feature extraction".
    * Real deployments replace the body with an actual codec (e.g. JNI
    * libjpeg / ffmpeg); signature and batch shape stay identical. */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val len = payload.length
    val width = stubWidth(len)
    val height = stubHeight(len)
    // 8 fake features: windowed byte averages — deterministic, cheap.
    // Empty payloads (zero-byte media) decode to all-zero features.
    val feats =
      if (len == 0) Array.fill(8)(0.0f)
      else Array.tabulate(8) { i =>
        val lo = i * len / 8
        val hi = math.max(lo + 1, (i + 1) * len / 8)
        var s = 0.0f
        var j = lo
        while (j < hi && j < len) { s += (payload(j) & 0xff); j += 1 }
        s / (hi - lo)
      }
    (width, height, 3, feats)
  }

  /** Per-partition decode: imperative inner loop over a partition's records —
    * the one legitimate `mapPartitions` use (per-record codec calls), keeping
    * partitioning intact and driver out of the data path. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val (w, h, ch, feats) = decodeStub(r.payload)
        MediaFeatures(r.media_id, r.payload.length, w, h, ch, feats)
      }
    }
  }

  /** Column-only metadata extraction (no decode): payload length and a hex
    * fingerprint prefix — pure codegen'd expressions, used when the payload
    * itself is not needed. */
  def payloadMetadata(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      length(col("payload")).as("byte_len"),
      substring(lower(hex(col("payload"))), 1, 32).as("payload_hex_prefix"),
      stubWidthCol(length(col("payload"))).as("fake_width"),
      stubHeightCol(length(col("payload"))).as("fake_height"),
      lit(3).as("channels"))

  /** Frame sampling plumbing: treat the payload as a fake "video" of
    * `frameSize`-byte frames and emit every `stride`-th frame with its
    * byte slice metadata and fingerprint — one media row fans out to
    * bounded frame rows, entirely in column expressions (explode over a
    * computed index sequence + binary substring), so the shape survives
    * 100 TB: no collect, no per-row driver work, frames stream through the
    * same task as their parent row. A real video decoder replaces the
    * byte-slice "frame" with actual frame extraction; the fan-out,
    * schema, and per-frame metadata stay identical. Also carries the
    * resize plan (target width, proportional height) as metadata — the
    * stub form of a resize stage. */
  def sampleFrames(media: DataFrame, frameSize: Int = 256, stride: Int = 2,
                   resizeTargetW: Int = 64): DataFrame = {
    val frame = expr(s"substring(payload, frame_idx * $frameSize + 1, $frameSize)")
    media
      .select(col("media_id"), col("payload"),
        greatest(ceil(length(col("payload")).cast("double") / frameSize).cast("int"),
          lit(1)).as("n_frames"),
        stubWidthCol(length(col("payload"))).as("w"),
        stubHeightCol(length(col("payload"))).as("h"))
      .select(col("media_id"), col("n_frames"), col("w"), col("h"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"),
        col("payload"))
      .select(col("media_id"), col("n_frames"), col("frame_idx"),
        length(frame).as("frame_len"),
        substring(lower(hex(frame)), 1, 16).as("frame_fp"),
        lit(resizeTargetW).as("resize_w"),
        round(col("h").cast("double") * resizeTargetW / col("w")).cast("int").as("resize_h"))
  }

  /** Typed dataset from a text-backed media frame. */
  def toMediaDataset(spark: SparkSession, df: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    df.as[MediaRecord]
  }

  // ------------------------------------------------------------------
  // REAL pure-JVM codecs. A zero-dependency container can still decode
  // two honest image formats bit-exactly: 24-bit uncompressed BMP and
  // binary PPM (P6). These are not stubs — encodeBmp writes a
  // spec-conformant file (BITMAPFILEHEADER + BITMAPINFOHEADER, BGR
  // pixel order, bottom-up rows, 4-byte row padding) and decodeBmpRgb
  // parses arbitrary conformant payloads back (including top-down
  // negative-height files), so the decode stage of the pipeline runs a
  // real parse over real bytes. PNG (compressed, zlib through the
  // public JDK Inflater) decodes for real too — see the PNG section
  // below, and JPEG (baseline 4:4:4/4:2:0/4:2:2 AND progressive SOF2)
  // in the JPEG section. Video decodes for real in Y4M and MJPEG-AVI
  // (see the VIDEO sections); only inter-frame codecs take the
  // documented [[decodeStub]] fallback.
  // ------------------------------------------------------------------

  /** Decoded image statistics: exact per-channel pixel sums (integer —
    * engine- and order-invariant) plus dimensions. */
  case class ImageStats(media_id: Long, width: Int, height: Int,
                        channels: Int, r_sum: Long, g_sum: Long,
                        b_sum: Long, n_pixels: Long)

  /** Write a 24-bit uncompressed bottom-up BMP. `pixel(x, y)` returns
    * (r, g, b); values are taken mod 256. */
  def encodeBmp(width: Int, height: Int,
                pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0, s"need positive dims, got $width x $height")
    val rowSize = (width * 3 + 3) / 4 * 4
    val dataSize = rowSize * height
    val b = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54) // reserved, pixel-data offset
    b.putInt(40).putInt(width).putInt(height) // BITMAPINFOHEADER
      .putShort(1).putShort(24).putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1 // bottom-up row order, BGR byte order
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val (r, g, bl) = pixel(x, y)
        b.put(bl.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var p = width * 3
      while (p < rowSize) { b.put(0.toByte); p += 1 }
      y -= 1
    }
    b.array()
  }

  /** One packed pixel: 0xRRGGBB from three channel values (bytes
    * included; each is taken mod 256). */
  private def packRgb(r: Int, g: Int, b: Int): Int =
    ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff)

  /** Parse a 24-bit uncompressed BMP to its packed 0xRRGGBB plane in
    * IMAGE coordinates (row-major, y = 0 at the top). None for anything
    * that is not a conformant 24bpp BMP (wrong magic, compressed,
    * truncated) — callers fall back. Undoes the file's bottom-up row
    * order (positive height), so planes are orientation-independent;
    * top-down (negative height) files read straight through; any
    * pixel-data offset is honoured. */
  private def decodeBmpRgb(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (payload.length < 54 || payload(0) != 'B' || payload(1) != 'M') return None
    val b = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val off = b.getInt(10)
    val width = b.getInt(18)
    val rawHeight = b.getInt(22)
    if (b.getInt(14) < 40 || b.getShort(26) != 1 || b.getShort(28) != 24 ||
      b.getInt(30) != 0) return None
    if (width <= 0 || rawHeight == 0 || off < 54) return None
    // LONG geometry: width * 3 wraps Int for a header claiming a width
    // past 715 M, and abs(Int.MinValue) stays negative — either would
    // slip past the size guard into a crash instead of the None fallback
    val heightL = math.abs(rawHeight.toLong)
    val rowSizeL = (width * 3L + 3) / 4 * 4
    if (off + rowSizeL * heightL > payload.length) return None
    val height = heightL.toInt
    val rowSize = rowSizeL.toInt
    val rgb = new Array[Int](width * height)
    var row = 0
    while (row < height) {
      val y = if (rawHeight > 0) height - 1 - row else row
      var p = off + row * rowSize
      var x = 0
      while (x < width) {
        rgb(y * width + x) = packRgb(payload(p + 2), payload(p + 1), payload(p)) // BGR
        p += 3; x += 1
      }
      row += 1
    }
    Some((width, height, rgb))
  }

  /** Parse a binary PPM (P6, maxval ≤ 255; whitespace + '#' comments per
    * the netpbm spec) to its packed plane (row-major, already top-down in
    * the file). */
  private def decodePpmRgb(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (payload.length < 9 || payload(0) != 'P' || payload(1) != '6') return None
    var p = 2
    // read 3 whitespace/comment-separated ASCII ints, then ONE whitespace
    def nextInt(): Option[Int] = {
      while (p < payload.length &&
        (payload(p) == ' ' || payload(p) == '\n' || payload(p) == '\r'
          || payload(p) == '\t' || payload(p) == '#')) {
        if (payload(p) == '#') // comment runs to end of line
          while (p < payload.length && payload(p) != '\n') p += 1
        else p += 1
      }
      var v = 0L; var any = false
      while (p < payload.length && payload(p) >= '0' && payload(p) <= '9') {
        v = v * 10 + (payload(p) - '0'); any = true; p += 1
        if (v > Int.MaxValue) return None
      }
      if (any) Some(v.toInt) else None
    }
    val dims = for (w <- nextInt(); h <- nextInt(); mx <- nextInt()) yield (w, h, mx)
    dims match {
      case Some((w, h, mx)) if w > 0 && h > 0 && mx > 0 && mx <= 255 =>
        p += 1 // the single whitespace after maxval
        if (p.toLong + 3L * w * h > payload.length) return None
        val rgb = new Array[Int](w * h)
        var i = 0
        while (i < rgb.length) {
          rgb(i) = packRgb(payload(p), payload(p + 1), payload(p + 2))
          p += 3; i += 1
        }
        Some((w, h, rgb))
      case _ => None
    }
  }

  /** The one image dispatch: magic-byte sniff over every still-image
    * container, each decoder returning the same packed 0xRRGGBB plane —
    * so a pixel's reductions never depend on its container. */
  private[graft] def decodeImageRgb(payload: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeBmpRgb(payload).orElse(decodePpmRgb(payload))
      .orElse(decodePngRgb(payload)).orElse(decodeJpegRgb(payload))

  /** Exact per-channel sums of a packed plane: [rSum, gSum, bSum]
    * (integer — engine- and order-invariant). */
  private[graft] def rgbSums(rgb: Array[Int]): Array[Long] = {
    var r = 0L; var g = 0L; var b = 0L
    var i = 0
    while (i < rgb.length) {
      val p = rgb(i)
      r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
      i += 1
    }
    Array(r, g, b)
  }

  /** The gray rule of every image and video fingerprint: gray =
    * (r+g+b)/3 truncating, of one packed pixel. Gray pixels (v, v, v)
    * map to v, so gray and color containers of one image agree. The
    * fingerprints read it at their window's samples only, never over a
    * whole plane. */
  private[graft] def grayOf(p: Int): Int =
    (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3

  /** Perceptual average-hash (aHash) over the REAL decoded pixels: gray
    * values of the fixed top-left `winW`×`winH` window, thresholded
    * against the window's truncating-integer mean, packed row-major into
    * one long (bit y·winW+x) — the image-dedup fingerprint (identical
    * hash ⇒ visually identical content; small Hamming distance ⇒ near-dup,
    * band-joinable exactly like [[Dedup]]'s SimHash path, since the hash
    * is bit-banded the same way).
    *
    * Default window 8×6 = 48 bits keeps the hash in positive BIGINT range
    * (SQL-comparable without sign games). Images smaller than the window
    * are dropped (no partial-window hashes — they would collide
    * structurally). Same partition-preserving `mapPartitions` decode
    * boundary as [[imageStats]] — map-only, no shuffle. */
  case class ImageHash(media_id: Long, width: Int, height: Int,
                       ahash: Long, n_set: Long)

  /** The aHash window math on a row-major plane of width `w`, read
    * through `gray` (flat pixel index → gray value) at the window's
    * samples only: threshold the top-left `winW`×`winH` window against
    * its truncating-integer mean, pack row-major into (hash, n_set).
    * Shared by the image and video paths so a frame hashes exactly like
    * the equivalent still. */
  private def grayWindowHash(w: Int, gray: Int => Int,
                             winW: Int, winH: Int,
                             strideX: Int = 1, strideY: Int = 1): (Long, Long) = {
    var sum = 0L
    var y = 0
    while (y < winH) {
      var x = 0
      while (x < winW) { sum += gray(y * strideY * w + x * strideX); x += 1 }
      y += 1
    }
    val mean = sum / (winW * winH)
    var hash = 0L
    var nSet = 0L
    y = 0
    while (y < winH) {
      var x = 0
      while (x < winW) {
        if (gray(y * strideY * w + x * strideX) > mean) {
          hash |= 1L << (y * winW + x)
          nSet += 1
        }
        x += 1
      }
      y += 1
    }
    (hash, nSet)
  }

  def aHash(media: Dataset[MediaRecord], winW: Int = 8,
            winH: Int = 6, strideX: Int = 1,
            strideY: Int = 1): Dataset[ImageHash] = {
    require(winW * winH <= 62, "hash window must fit a positive long")
    require(strideX >= 1 && strideY >= 1, "strides must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeImageRgb(r.payload).collect {
          // strided sampling (pixel (x·sx, y·sy)): lets the 62-bit
          // window span an image region wider than 8 px — e.g. one
          // sample per 8x8 JPEG block, so block-quantized payloads
          // still hash on real inter-block structure
          case (w, h, rgb) if w.toLong > (winW - 1).toLong * strideX
              && h.toLong > (winH - 1).toLong * strideY =>
            val (hash, nSet) = grayWindowHash(w, i => grayOf(rgb(i)), winW, winH,
              strideX, strideY)
            ImageHash(r.media_id, w, h, hash, nSet)
        }
      }
    }
  }

  /** One pooled output cell: the block mean of the decoded grayscale. */
  case class PooledPixel(media_id: Long, bx: Int, by: Int, g_mean: Long)

  /** REAL downsample: average-pool the decoded grayscale over `bw`×`bh`
    * blocks of the fixed `winW`×`winH` top-left window — the resize step
    * of an image feature pipeline, on actual pixels (the stub-path
    * [[sampleFrames]] keeps the plan-shape contract for formats without
    * a JVM codec). Truncating integer block means; images smaller than
    * the window drop, same contract as [[aHash]]. Map-only. */
  def avgPool(media: Dataset[MediaRecord], winW: Int = 8, winH: Int = 6,
              bw: Int = 2, bh: Int = 2): Dataset[PooledPixel] = {
    require(winW % bw == 0 && winH % bh == 0,
      s"window ${winW}x$winH must tile by ${bw}x$bh blocks")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeImageRgb(r.payload).toSeq.collect {
          case (w, h, rgb) if w >= winW && h >= winH =>
            for {
              by <- 0 until winH / bh
              bx <- 0 until winW / bw
            } yield {
              var s = 0L
              var dy = 0
              while (dy < bh) {
                var dx = 0
                while (dx < bw) {
                  s += grayOf(rgb((by * bh + dy) * w + (bx * bw + dx)))
                  dx += 1
                }
                dy += 1
              }
              PooledPixel(r.media_id, bx, by, s / (bw * bh))
            }
        }.flatten
      }
    }
  }

  /** Write a binary PPM (P6, maxval 255).
    * Test-only: backs COVERAGE.md's "Multimodal REAL codecs" row (the PPM encode). */
  def encodePpm(width: Int, height: Int,
                pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0, s"need positive dims, got $width x $height")
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + width * height * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var p = header.length
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = pixel(x, y)
        out(p) = r.toByte; out(p + 1) = g.toByte; out(p + 2) = b.toByte
        p += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** Per-partition REAL decode over a media table: every still-image
    * container ([[decodeImageRgb]]'s magic-byte dispatch) parses for
    * real and reduces to exact channel sums; payloads in none of them are
    * dropped (the stub pipeline [[extractFeatures]] remains the path for
    * formats without a JVM codec). Same `mapPartitions` shape as the stub
    * pipeline — the codec body changed, the plan did not. */
  def imageStats(media: Dataset[MediaRecord]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeImageRgb(r.payload).map { case (w, h, rgb) =>
          val sums = rgbSums(rgb)
          ImageStats(r.media_id, w, h, 3, sums(0), sums(1), sums(2),
            w.toLong * h)
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // PNG (RFC 2083 subset): a REAL pure-JDK codec for non-interlaced
  // 8-bit truecolor images — zlib via java.util.zip (public JDK), real
  // CRC-checked chunks, the FULL five-filter suite (None/Sub/Up/
  // Average/Paeth) on both encode and decode. This is the compressed
  // sibling of the BMP/PPM path: the same magic-byte dispatch, the
  // same Option fallback for non-conformant payloads.
  // ------------------------------------------------------------------

  private val pngMagic: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** The PNG Paeth predictor (RFC 2083 §6.6): closest of left/up/up-left
    * to the linear estimate a+b−c, ties broken left, up, up-left. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Shared encoder core, part 1: filter a `bpp`-byte-per-pixel plane
    * row by row with the `y % 5` filter rotation (the rotation
    * DELIBERATELY emits every filter the spec defines, so round-tripping
    * through [[decodePngRgb]] proves the whole defilter suite, not just the
    * inverse of one encoder habit). `sample(x, y, channel)` supplies the
    * byte at channel `c < bpp`. */
  private def pngFilterPlane(width: Int, height: Int, bpp: Int,
                             sample: (Int, Int, Int) => Int): Array[Byte] = {
    val stride = width * bpp
    val raw = new Array[Byte]((stride + 1) * height)
    val cur = new Array[Int](stride)
    val prev = new Array[Int](stride) // zeros above row 0, per spec
    var y = 0; var o = 0
    while (y < height) {
      var i = 0
      while (i < stride) { cur(i) = sample(i / bpp, y, i % bpp) & 0xff; i += 1 }
      val ft = y % 5
      raw(o) = ft.toByte; o += 1
      i = 0
      while (i < stride) {
        val a = if (i >= bpp) cur(i - bpp) else 0
        val b = prev(i)
        val c = if (i >= bpp) prev(i - bpp) else 0
        val v = ft match {
          case 0 => cur(i)
          case 1 => cur(i) - a
          case 2 => cur(i) - b
          case 3 => cur(i) - ((a + b) >> 1)
          case _ => cur(i) - paeth(a, b, c)
        }
        raw(o) = (v & 0xff).toByte; o += 1
        i += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    raw
  }

  /** Shared encoder core, part 2: one length+tag+data+CRC chunk. */
  private def pngChunk(tag: String, data: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(12 + data.length) // big-endian
    out.putInt(data.length).put(tag.getBytes("US-ASCII")).put(data)
    val crc = new java.util.zip.CRC32()
    crc.update(tag.getBytes("US-ASCII")); crc.update(data)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** Shared encoder core, part 3: assemble the file — magic, IHDR for
    * `colorType`, any extra chunks (PLTE), one zlib IDAT, IEND. */
  private def pngAssemble(width: Int, height: Int, colorType: Byte,
                          extraChunks: Seq[(String, Array[Byte])],
                          raw: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    val z = new java.io.ByteArrayOutputStream()
    try {
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
    } finally defl.end()
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(colorType)
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
      .array()
    pngMagic ++ pngChunk("IHDR", ihdr) ++
      extraChunks.flatMap { case (t, d) => pngChunk(t, d) } ++
      pngChunk("IDAT", z.toByteArray) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** Write a non-interlaced 8-bit truecolor PNG (color type 2).
    * Chunks: IHDR, one IDAT (zlib, default level), IEND. */
  def encodePng(width: Int, height: Int,
                pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0, s"need positive dims, got $width x $height")
    val raw = pngFilterPlane(width, height, 3, (x, y, c) => {
      val (r, g, b) = pixel(x, y)
      if (c == 0) r else if (c == 1) g else b
    })
    pngAssemble(width, height, colorType = 2, Seq.empty, raw)
  }

  private def beInt(p: Array[Byte], off: Int): Int =
    ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
      ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)

  /** Parse a non-interlaced 8-bit PNG — truecolor, grayscale or indexed
    * — to its packed 0xRRGGBB plane (row-major, top-down like the file).
    * Real decoding: chunk walk with CRC verification, ancillary chunks
    * skipped, multiple IDATs concatenated, zlib inflate, and the full
    * five-filter reconstruction. Grayscale surfaces as (v, v, v); an
    * indexed pixel resolves through PLTE. None for anything
    * non-conformant (wrong magic/depth/color type, interlaced, bad CRC,
    * truncated stream, an index past the palette) — callers fall back,
    * same contract as [[decodeBmpRgb]]. */
  private def decodePngRgb(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (payload.length < 8 + 25) return None
    var i = 0
    while (i < 8) { if (payload(i) != pngMagic(i)) return None; i += 1 }
    var pos = 8
    var width = 0; var height = 0; var seenIhdr = false
    var colorType = 2
    var bpp = 3 // bytes per pixel: 3 (truecolor) or 1 (grayscale/indexed)
    var palette: Array[Int] = null // packed PLTE entries
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      if (pos + 12 > payload.length) return None
      val len = beInt(payload, pos)
      if (len < 0 || pos + 12 + len > payload.length) return None
      val tag = new String(payload, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(payload, pos + 4, 4 + len)
      if (crc.getValue.toInt != beInt(payload, pos + 8 + len)) return None
      tag match {
        case "IHDR" =>
          if (len != 13 || seenIhdr) return None
          width = beInt(payload, pos + 8); height = beInt(payload, pos + 12)
          val bitDepth = payload(pos + 16); colorType = payload(pos + 17)
          val compression = payload(pos + 18); val filterMethod = payload(pos + 19)
          val interlace = payload(pos + 20)
          if (bitDepth != 8 ||
            (colorType != 2 && colorType != 0 && colorType != 3) ||
            compression != 0 || filterMethod != 0 || interlace != 0) return None
          bpp = if (colorType == 2) 3 else 1
          if (width <= 0 || height <= 0) return None
        case "PLTE" =>
          // indexed-color lookup table: 1..256 RGB triples, before IDAT
          if (!seenIhdr || palette != null || idat.size() > 0) return None
          if (len == 0 || len % 3 != 0 || len > 768) return None
          palette = Array.tabulate(len / 3) { e =>
            val at = pos + 8 + 3 * e
            packRgb(payload(at), payload(at + 1), payload(at + 2))
          }
        case "IDAT" => if (!seenIhdr) return None else idat.write(payload, pos + 8, len)
        case "IEND" => done = true
        case _ => // ancillary chunk: skip
      }
      if (tag == "IHDR") seenIhdr = true
      pos += 12 + len
    }
    if (!seenIhdr) return None
    if (colorType == 3 && palette == null) return None // PLTE is mandatory
    // LONG stride math first: width * bpp wraps Int for a conformant
    // truecolor IHDR with width > 715 M, and a wrapped-negative stride
    // would slip past the size guard and crash the allocation instead of
    // taking the documented None fallback
    val strideL = width.toLong * bpp
    // Division form: the product (strideL + 1) * height itself overflows
    // Long when width and height are both near 2^31 (≈1.4e19 > 2^63-1),
    // wrapping negative and slipping past a multiplication-based guard.
    // height ≥ 1 is guaranteed above, so the division is safe; the
    // (strideL + 1) bound subsumes the strideL * height one.
    if (strideL + 1 > (Int.MaxValue - 8).toLong / height) return None
    val stride = strideL.toInt
    val rawLen = (stride + 1).toLong * height
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        got += n
      }
      if (got < raw.length) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // defilter in place: a row's left neighbours and the row above are
    // already reconstructed when a byte is read
    val rowLen = stride + 1
    var y = 0
    while (y < height) {
      val row = y * rowLen
      val ft = raw(row) & 0xff
      if (ft > 4) return None
      var k = 0
      while (k < stride) {
        val p = row + 1 + k
        val v = raw(p) & 0xff
        val a = if (k >= bpp) raw(p - bpp) & 0xff else 0
        val b = if (y > 0) raw(p - rowLen) & 0xff else 0
        val c = if (y > 0 && k >= bpp) raw(p - rowLen - bpp) & 0xff else 0
        val rec = ft match {
          case 0 => v
          case 1 => v + a
          case 2 => v + b
          case 3 => v + ((a + b) >> 1)
          case _ => v + paeth(a, b, c)
        }
        raw(p) = rec.toByte
        k += 1
      }
      y += 1
    }
    val rgb = new Array[Int](width * height)
    y = 0
    while (y < height) {
      var at = y * rowLen + 1
      var x = 0
      while (x < width) {
        rgb(y * width + x) = colorType match {
          case 2 => packRgb(raw(at), raw(at + 1), raw(at + 2))
          case 0 => packRgb(raw(at), raw(at), raw(at))
          case _ =>
            val idx = raw(at) & 0xff
            if (idx >= palette.length) return None // out-of-palette index: invalid
            palette(idx)
        }
        at += bpp; x += 1
      }
      y += 1
    }
    Some((width, height, rgb))
  }

  /** Write a non-interlaced 8-bit GRAYSCALE PNG (color type 0,
    * 1 byte/pixel) — the bpp=1 sibling of [[encodePng]], same per-row
    * filter rotation so round-trips prove the defilter suite at the
    * other byte width too. `pixel(x, y)` returns the gray value mod 256.
    * Test-only: backs COVERAGE.md's "Multimodal REAL PNG codec" row. */
  def encodePngGray(width: Int, height: Int,
                    pixel: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0, s"need positive dims, got $width x $height")
    pngAssemble(width, height, colorType = 0, Seq.empty,
      pngFilterPlane(width, height, 1, (x, y, _) => pixel(x, y)))
  }

  /** Write a non-interlaced 8-bit INDEXED-COLOR PNG (color type 3 — the
    * most common web PNG flavor): a PLTE chunk of `nEntries` RGB triples
    * from `palColor(e)`, one index byte per pixel from `index(x, y)`,
    * same per-row filter rotation as the other encoders so round trips
    * prove the defilter suite over index bytes too. */
  def encodePngPalette(width: Int, height: Int, nEntries: Int,
                       palColor: Int => (Int, Int, Int),
                       index: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0, s"need positive dims, got $width x $height")
    require(nEntries >= 1 && nEntries <= 256, s"PLTE takes 1..256 entries, got $nEntries")
    val plte = new Array[Byte](nEntries * 3)
    var e = 0
    while (e < nEntries) {
      val (r, g, b) = palColor(e)
      plte(3 * e) = (r & 0xff).toByte
      plte(3 * e + 1) = (g & 0xff).toByte
      plte(3 * e + 2) = (b & 0xff).toByte
      e += 1
    }
    val raw = pngFilterPlane(width, height, 1, (x, y, _) => {
      val i = index(x, y)
      require(i >= 0 && i < nEntries, s"index $i outside palette of $nEntries")
      i
    })
    pngAssemble(width, height, colorType = 3, Seq("PLTE" -> plte), raw)
  }

  // ------------------------------------------------------------------
  // VIDEO: a REAL pure-JVM Y4M (YUV4MPEG2) codec — the uncompressed
  // video container (plain-text header + FRAME-delimited raw planes;
  // what ffmpeg/mjpegtools pipe between stages), here in its Cmono
  // flavor (one 8-bit Y plane per frame). Same contract as the image
  // and WAV paths: an uncompressed real container parses for real over
  // real bytes. Compressed video decodes for real too — MJPEG-in-AVI,
  // in its own section below, rides the in-tree JPEG codec; only
  // inter-frame codecs (H.264/VP9/AV1) would take the decodeStub
  // fallback until a codec library is linked. On top of the
  // codecs sit the two ops a training-data video pipeline needs first:
  // FRAME SAMPLING (every k-th frame → the image feature path — each
  // sampled frame aHashes exactly like the equivalent still, so video
  // frames join the same banded-Hamming dedup index as images) and
  // SHOT-BOUNDARY detection (consecutive-frame hash distance).
  // ------------------------------------------------------------------

  /** Write a YUV4MPEG2 Cmono stream: `nFrames` frames of
    * `pixel(frame)(x, y)` gray values (mod 256). Spec-shaped header
    * (`YUV4MPEG2 W.. H.. F25:1 Ip A1:1 Cmono`) and a `FRAME` marker per
    * frame — readable by any y4m consumer. */
  def encodeY4m(width: Int, height: Int, nFrames: Int,
                pixel: Int => (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames > 0,
      s"need positive dims/frames, got $width x $height x $nFrames")
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 Cmono\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    var f = 0
    while (f < nFrames) {
      out.write("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val px = pixel(f)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { out.write(px(x, y) & 0xff); x += 1 }
        y += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** Parse a YUV4MPEG2 Cmono stream, keeping every `every`-th frame
    * (frame 0 always kept): (width, height, n_frames_total,
    * sampled (frame_idx, gray plane)). None for anything non-conformant
    * (wrong magic, missing W/H, a colorspace other than mono, truncated
    * frame data) — same fall-back contract as the image codecs. FRAME
    * markers may carry parameters (spec-legal); they are skipped. */
  def decodeY4mFrames(payload: Array[Byte], every: Int = 1)
      : Option[(Int, Int, Int, Seq[(Int, Array[Int])])] = {
    if (every < 1) return None
    val magic = "YUV4MPEG2".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    if (payload.length < magic.length) return None
    var i = 0
    while (i < magic.length) { if (payload(i) != magic(i)) return None; i += 1 }
    var nl = i
    while (nl < payload.length && payload(nl) != '\n') nl += 1
    if (nl >= payload.length) return None
    val header = new String(payload, 0, nl,
      java.nio.charset.StandardCharsets.US_ASCII)
    var width = -1; var height = -1; var mono = false
    header.split(' ').drop(1).foreach { tok =>
      if (tok.nonEmpty) tok.charAt(0) match {
        case 'W' => width = tok.drop(1).toIntOption.getOrElse(-1)
        case 'H' => height = tok.drop(1).toIntOption.getOrElse(-1)
        case 'C' => mono = tok.drop(1) == "mono"
        case _ => // frame rate / interlace / aspect: irrelevant to pixels
      }
    }
    if (width <= 0 || height <= 0 || !mono) return None
    if (width.toLong * height > Int.MaxValue - 8) return None
    val frameLen = width * height
    val frameTag = "FRAME".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var pos = nl + 1
    var idx = 0
    val sampled = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Int])]
    while (pos < payload.length) {
      var j = 0
      while (j < frameTag.length) {
        if (pos + j >= payload.length || payload(pos + j) != frameTag(j)) return None
        j += 1
      }
      pos += frameTag.length
      while (pos < payload.length && payload(pos) != '\n') pos += 1 // params
      if (pos >= payload.length) return None
      pos += 1
      // LONG compare: pos + frameLen can wrap Int for multi-GB payloads,
      // letting a truncated final plane through to an out-of-bounds read
      if (pos.toLong + frameLen > payload.length) return None // truncated plane
      if (idx % every == 0) {
        val gray = new Array[Int](frameLen)
        var k = 0
        while (k < frameLen) { gray(k) = payload(pos + k) & 0xff; k += 1 }
        sampled += ((idx, gray))
      }
      pos += frameLen
      idx += 1
    }
    if (idx == 0) None else Some((width, height, idx, sampled.toSeq))
  }

  /** One sampled video frame's perceptual hash: the SAME windowed aHash
    * as the still-image path ([[aHash]]), so frames and stills share one
    * dedup index. */
  case class VideoFrameHash(media_id: Long, n_frames: Int, frame_idx: Int,
                            ahash: Long, n_set: Long)

  /** Container-dispatched frame decode to GRAY readers (flat pixel index
    * → gray) — the shared entry for every per-frame video hash: Y4M reads
    * its raw luma plane directly; AVI/MJPEG decodes each sampled JFIF
    * frame through the full JPEG path and reads it through the stills'
    * [[grayOf]], so a frame's fingerprint depends on its pixels, never
    * on its container (the cross-container parity the image path already
    * guarantees between BMP/PNG/JPEG stills). */
  private def decodeVideoGrayFrames(payload: Array[Byte], every: Int)
      : Option[(Int, Int, Int, Seq[(Int, Int => Int)])] =
    decodeY4mFrames(payload, every).map { case (w, h, n, frames) =>
      (w, h, n, frames.map { case (idx, luma) => (idx, (i: Int) => luma(i)) })
    }.orElse(
      decodeAviMjpegFrames(payload, every).map { case (w, h, n, frames) =>
        (w, h, n, frames.map { case (idx, rgb) => (idx, (i: Int) => grayOf(rgb(i))) })
      })

  /** Frame-sample + fingerprint: decode the video payload (Y4M or
    * AVI/MJPEG, container-sniffed), keep every `every`-th frame, aHash
    * each kept frame. Map-only (the codec runs inside `mapPartitions`,
    * no shuffle); frames smaller than the strided hash window drop, same
    * contract as [[aHash]]. `strideX`/`strideY` sample the window at
    * pixel (x·sx, y·sy) exactly like the still path — one sample per
    * 8x8 block (stride 8) is how block-quantized MJPEG frames hash on
    * real inter-block structure. Minimum frame size: the strided window
    * must fit, i.e. w > (winW−1)·strideX and h > (winH−1)·strideY
    * (57×41 px at the 8/6/8/8 defaults); smaller frames drop — unless
    * `fallbackStride1` is set, in which case a video whose frames are
    * below the strided window but at least winW×winH hashes at stride 1
    * (dense window) so small payloads stay indexable. The fallback is
    * per-video and deterministic (frame size is constant within a
    * stream), so maintained indexes built with it are rebuild-stable.
    * Shot-boundary detection is a lag over this output partitioned by
    * media_id — a corpus-cardinality key, so the window is balanced at
    * any scale. */
  def videoFrameHashes(media: Dataset[MediaRecord], every: Int = 1,
                       winW: Int = 8, winH: Int = 6,
                       strideX: Int = 1, strideY: Int = 1,
                       fallbackStride1: Boolean = false): Dataset[VideoFrameHash] = {
    require(winW * winH <= 62, "hash window must fit a positive long")
    require(strideX >= 1 && strideY >= 1, "strides must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeVideoGrayFrames(r.payload, every).toSeq.flatMap {
          case (w, h, nFrames, frames)
              if w.toLong > (winW - 1).toLong * strideX
                && h.toLong > (winH - 1).toLong * strideY =>
            frames.map { case (idx, gray) =>
              val (hash, nSet) = grayWindowHash(w, gray, winW, winH,
                strideX, strideY)
              VideoFrameHash(r.media_id, nFrames, idx, hash, nSet)
            }
          case (w, h, nFrames, frames)
              if fallbackStride1 && w >= winW && h >= winH =>
            frames.map { case (idx, gray) =>
              val (hash, nSet) = grayWindowHash(w, gray, winW, winH, 1, 1)
              VideoFrameHash(r.media_id, nFrames, idx, hash, nSet)
            }
          case _ => Seq.empty
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // COMPRESSED VIDEO: MJPEG inside an AVI (RIFF) container — the first
  // REAL compressed-video path, riding the in-tree baseline JPEG codec
  // (each '00dc' chunk is a standalone JFIF frame; this is what MJPEG
  // IS — the format DV cameras, webcams, and ffmpeg's `-c:v mjpeg`
  // emit). The container layout follows the public Microsoft AVI RIFF
  // spec ('hdrl' with avih/strh/strf, 'movi' with per-frame chunks,
  // 'idx1' index, word-aligned chunks with pad bytes). decodeStub now
  // remains only for inter-frame codecs (H.264/VP9/AV1), which need an
  // external library by nature.
  // ------------------------------------------------------------------

  private def fourcc(payload: Array[Byte], at: Int): String =
    new String(payload, at, 4, java.nio.charset.StandardCharsets.US_ASCII)

  private def u32le(payload: Array[Byte], at: Int): Long =
    (payload(at) & 0xffL) | ((payload(at + 1) & 0xffL) << 8) |
      ((payload(at + 2) & 0xffL) << 16) | ((payload(at + 3) & 0xffL) << 24)

  private def putU32le(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
    out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
  }

  private def putU16le(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  /** A RIFF chunk: fourcc + LE size + body (+ pad byte when odd, per
    * the RIFF word-alignment rule — the size field excludes the pad). */
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8 + body.length + 1)
    out.write(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    putU32le(out, body.length.toLong)
    out.write(body)
    if ((body.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  private def riffList(listType: String, body: Array[Byte]): Array[Byte] = {
    val withType = new java.io.ByteArrayOutputStream(4 + body.length)
    withType.write(listType.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    withType.write(body)
    riffChunk("LIST", withType.toByteArray)
  }

  /** Write an MJPEG AVI: `nFrames` frames of `pixel(frame)(x, y)` RGB
    * (taken mod 256), each encoded as a standalone baseline JFIF via
    * [[encodeJpeg]] and wrapped per the AVI RIFF spec — LIST hdrl
    * (avih + LIST strl(strh 'vids'/'MJPG' + strf BITMAPINFOHEADER with
    * biCompression 'MJPG')), LIST movi ('00dc' chunk per frame), and an
    * idx1 keyframe index (every MJPEG frame is a keyframe). 25 fps
    * metadata to match [[encodeY4m]]. */
  def encodeAviMjpeg(width: Int, height: Int, nFrames: Int,
                     pixel: Int => (Int, Int) => (Int, Int, Int)): Array[Byte] =
    aviFromJpegFrames(width, height,
      Array.tabulate(nFrames)(f => encodeJpeg(width, height, pixel(f))))

  /** [[encodeAviMjpeg]] with 4:2:0-subsampled frames ([[encodeJpeg420]])
    * — the dominant webcam/capture encoding (quarter-resolution chroma).
    * The decoder needs no variant: each frame is a standalone JFIF and
    * [[decodeJpegRgb]] handles the 2x2 luma sampling already. */
  def encodeAviMjpeg420(width: Int, height: Int, nFrames: Int,
                        pixel: Int => (Int, Int) => (Int, Int, Int)): Array[Byte] =
    aviFromJpegFrames(width, height,
      Array.tabulate(nFrames)(f => encodeJpeg420(width, height, pixel(f))))

  /** Write an INTERLEAVED MJPEG + 16-bit mono PCM AVI — the classic
    * capture layout (DV/webcam: one '00dc' JFIF frame then its '01wb'
    * audio slice, per frame). Stream 0 = vids/MJPG, stream 1 = auds
    * PCM (strf = WAVEFORMATEX: tag 1, mono, 16-bit); avih dwStreams=2;
    * idx1 covers both streams. `sample(frame)(i)` gives the i-th 16-bit
    * sample of that frame's audio slice (taken as Short). */
  def encodeAviMjpegPcm(width: Int, height: Int, nFrames: Int,
                        pixel: Int => (Int, Int) => (Int, Int, Int),
                        sampleRate: Int, samplesPerFrame: Int,
                        sample: Int => Int => Int): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames > 0,
      s"need positive dims/frames, got $width x $height x $nFrames")
    require(sampleRate > 0 && samplesPerFrame > 0,
      s"need positive audio params, got $sampleRate Hz x $samplesPerFrame")
    val frames = Array.tabulate(nFrames)(f => encodeJpeg(width, height, pixel(f)))
    val audio = Array.tabulate(nFrames) { f =>
      val s = sample(f)
      val b = java.nio.ByteBuffer.allocate(samplesPerFrame * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < samplesPerFrame) { b.putShort(s(i).toShort); i += 1 }
      b.array()
    }
    aviFromJpegFrames(width, height, frames, Some((sampleRate, audio)))
  }

  /** The one RIFF/AVI writer behind the encoders above: stream 0 is the
    * MJPEG video, and `audio` = (sample rate, per-frame 16-bit mono PCM
    * slices) adds stream 1, each slice's '01wb' chunk following its
    * frame's '00dc' chunk in 'movi' and in idx1. */
  private def aviFromJpegFrames(width: Int, height: Int,
                                frames: Array[Array[Byte]],
                                audio: Option[(Int, Array[Array[Byte]])] = None): Array[Byte] = {
    require(width > 0 && height > 0 && frames.nonEmpty,
      s"need positive dims/frames, got $width x $height x ${frames.length}")
    val nFrames = frames.length
    val maxFrame = frames.map(_.length).max

    val avih = new java.io.ByteArrayOutputStream(56)
    putU32le(avih, 40000L)           // dwMicroSecPerFrame (25 fps)
    putU32le(avih, 0L)               // dwMaxBytesPerSec
    putU32le(avih, 0L)               // dwPaddingGranularity
    putU32le(avih, 0x10L)            // dwFlags: AVIF_HASINDEX
    putU32le(avih, nFrames.toLong)   // dwTotalFrames
    putU32le(avih, 0L)               // dwInitialFrames
    putU32le(avih, if (audio.isEmpty) 1L else 2L) // dwStreams: video (+ audio)
    putU32le(avih, maxFrame.toLong)  // dwSuggestedBufferSize
    putU32le(avih, width.toLong)
    putU32le(avih, height.toLong)
    for (_ <- 0 until 4) putU32le(avih, 0L) // dwReserved

    val strh = new java.io.ByteArrayOutputStream(56)
    strh.write("vids".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    strh.write("MJPG".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    putU32le(strh, 0L)               // dwFlags
    putU16le(strh, 0); putU16le(strh, 0) // wPriority, wLanguage
    putU32le(strh, 0L)               // dwInitialFrames
    putU32le(strh, 1L)               // dwScale
    putU32le(strh, 25L)              // dwRate (25/1 fps)
    putU32le(strh, 0L)               // dwStart
    putU32le(strh, nFrames.toLong)   // dwLength (in frames)
    putU32le(strh, maxFrame.toLong)  // dwSuggestedBufferSize
    putU32le(strh, 0L)               // dwQuality (driver default)
    putU32le(strh, 0L)               // dwSampleSize (0: one sample = one frame)
    putU16le(strh, 0); putU16le(strh, 0)           // rcFrame left, top
    putU16le(strh, width); putU16le(strh, height)  // rcFrame right, bottom

    val strf = new java.io.ByteArrayOutputStream(40) // BITMAPINFOHEADER
    putU32le(strf, 40L)              // biSize
    putU32le(strf, width.toLong)     // biWidth
    putU32le(strf, height.toLong)    // biHeight
    putU16le(strf, 1); putU16le(strf, 24) // biPlanes, biBitCount
    strf.write("MJPG".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    putU32le(strf, width.toLong * height * 3) // biSizeImage
    putU32le(strf, 0L); putU32le(strf, 0L)    // biXPels, biYPels
    putU32le(strf, 0L); putU32le(strf, 0L)    // biClrUsed, biClrImportant

    val audioStrl = audio.fold(Array.emptyByteArray) { case (sampleRate, slices) =>
      val samplesPerFrame = slices(0).length / 2
      val strhA = new java.io.ByteArrayOutputStream(56)
      strhA.write("auds".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      putU32le(strhA, 0L)              // fccHandler: 0 for PCM
      putU32le(strhA, 0L); putU16le(strhA, 0); putU16le(strhA, 0)
      putU32le(strhA, 0L)
      putU32le(strhA, 1L)              // dwScale
      putU32le(strhA, sampleRate.toLong) // dwRate (samples/sec)
      putU32le(strhA, 0L)
      putU32le(strhA, nFrames.toLong * samplesPerFrame) // dwLength (samples)
      putU32le(strhA, samplesPerFrame.toLong * 2)
      putU32le(strhA, 0L)
      putU32le(strhA, 2L)              // dwSampleSize: bytes per sample
      putU16le(strhA, 0); putU16le(strhA, 0); putU16le(strhA, 0); putU16le(strhA, 0)
      val strfA = new java.io.ByteArrayOutputStream(16) // WAVEFORMATEX (PCM core)
      putU16le(strfA, 1)               // wFormatTag: PCM
      putU16le(strfA, 1)               // nChannels: mono
      putU32le(strfA, sampleRate.toLong)
      putU32le(strfA, sampleRate.toLong * 2) // nAvgBytesPerSec
      putU16le(strfA, 2)               // nBlockAlign
      putU16le(strfA, 16)              // wBitsPerSample
      riffList("strl",
        riffChunk("strh", strhA.toByteArray) ++ riffChunk("strf", strfA.toByteArray))
    }

    val strl = riffList("strl",
      riffChunk("strh", strh.toByteArray) ++ riffChunk("strf", strf.toByteArray))
    val hdrl = riffList("hdrl", riffChunk("avih", avih.toByteArray) ++ strl ++ audioStrl)

    val moviBody = new java.io.ByteArrayOutputStream()
    // idx1 offsets: from the start of the 'movi' list data (the 'movi'
    // fourcc itself is offset 0 — the spec's preferred convention)
    val idx1 = new java.io.ByteArrayOutputStream(16 * nFrames)
    def chunk(id: String, body: Array[Byte]): Unit = {
      idx1.write(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      putU32le(idx1, 0x10L) // AVIIF_KEYFRAME: every MJPEG frame stands alone
      putU32le(idx1, 4L + moviBody.size()) // +4: past the 'movi' fourcc
      putU32le(idx1, body.length.toLong)
      moviBody.write(riffChunk(id, body))
    }
    var f = 0
    while (f < nFrames) {
      chunk("00dc", frames(f))
      audio.foreach { case (_, slices) => chunk("01wb", slices(f)) }
      f += 1
    }
    val movi = riffList("movi", moviBody.toByteArray)

    val form = new java.io.ByteArrayOutputStream()
    form.write("AVI ".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    form.write(hdrl)
    form.write(movi)
    form.write(riffChunk("idx1", idx1.toByteArray))
    val body = form.toByteArray
    val out = new java.io.ByteArrayOutputStream(8 + body.length)
    out.write("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    putU32le(out, body.length.toLong)
    out.write(body)
    out.toByteArray
  }

  /** Decoded sampled pixels across all frames of one payload may not
    * exceed this (64 Mpx of packed-RGB ints = 256 MB transient) — the
    * video-side sibling of the per-frame SOF caps: a small hostile
    * payload full of tiny valid JPEGs cannot amplify into an unbounded
    * allocation. Callers sampling a long video raise `every` instead. */
  private val aviMaxSampledPixels = 64L << 20

  /** Parse an MJPEG AVI, keeping every `every`-th video frame (frame 0
    * always kept): (width, height, n_frames_total, sampled (frame_idx,
    * packed 0xRRGGBB row-major pixels)). None for anything
    * non-conformant — wrong RIFF/AVI magic, missing or non-'MJPG' strf,
    * chunk sizes past the payload, a sampled frame that fails JPEG
    * decode or disagrees with the strf dimensions, a skipped frame
    * without an SOI marker, zero video frames, or a sampled-pixel total
    * past [[aviMaxSampledPixels]]. Unknown chunks (JUNK, odml, vprp …)
    * and non-video streams are skipped per the RIFF rule that readers
    * ignore chunks they don't understand; odd-sized chunks carry a pad
    * byte exactly like the WAV reader. */
  /** Parsed AVI container geometry: the hdrl's stream table (stream
    * number = strl order, per the spec: chunk ids in movi carry that
    * 2-digit number) plus the movi extent. Video = the first vids
    * stream whose strf is 'MJPG'; audio = the first auds stream whose
    * strf is PCM/mono/16-bit. */
  private case class AviLayout(moviStart: Int, moviEnd: Int,
                               mjpgStream: Int, w: Int, h: Int,
                               pcmStream: Int, sampleRate: Int)

  private def parseAviLayout(payload: Array[Byte]): Option[AviLayout] = {
    if (payload.length < 12 || fourcc(payload, 0) != "RIFF" ||
      fourcc(payload, 8) != "AVI ") return None
    val end = math.min(payload.length.toLong, 8L + u32le(payload, 4)).toInt
    var strfW = -1; var strfH = -1; var mjpgStream = -1
    var pcmStream = -1; var rate = -1
    var streamNo = -1 // counts strh chunks: the spec's stream numbering
    var lastType = "" // fccType of the most recent strh

    // Conformant AVI hdrl nesting is depth ~2 (hdrl > strl); cap the
    // recursion so a hostile payload of nested 12-byte LIST headers
    // (~85k levels/MB) degrades to skip-as-unknown-chunk instead of
    // StackOverflowError — same none-on-nonconformant posture as the
    // iterative Y4M/WAV/PNG walkers.
    val maxHdrlDepth = 32
    def scanHdrl(from: Int, to: Int, depth: Int): Unit = {
      var p = from
      while (p + 8 <= to) {
        val id = fourcc(payload, p)
        val size = u32le(payload, p + 4)
        val dataEnd = p + 8 + size
        if (dataEnd > to) return
        if (id == "LIST" && size >= 4 && depth < maxHdrlDepth)
          scanHdrl(p + 12, dataEnd.toInt, depth + 1)
        else if (id == "strh" && size >= 8) {
          streamNo += 1
          lastType = fourcc(payload, p + 8)
        } else if (id == "strf" && lastType == "vids" && size >= 40
            && mjpgStream < 0) {
          val bi = p + 8
          if (u32le(payload, bi) >= 40 && fourcc(payload, bi + 16) == "MJPG") {
            strfW = u32le(payload, bi + 4).toInt
            strfH = u32le(payload, bi + 8).toInt
            mjpgStream = streamNo
          }
        } else if (id == "strf" && lastType == "auds" && size >= 16
            && pcmStream < 0) {
          val bi = p + 8
          val tag = (payload(bi) & 0xff) | ((payload(bi + 1) & 0xff) << 8)
          val ch = (payload(bi + 2) & 0xff) | ((payload(bi + 3) & 0xff) << 8)
          val bits = (payload(bi + 14) & 0xff) | ((payload(bi + 15) & 0xff) << 8)
          if (tag == 1 && ch == 1 && bits == 16) {
            rate = u32le(payload, bi + 4).toInt
            if (rate > 0) pcmStream = streamNo
          }
        }
        p = (dataEnd + (size & 1)).toInt
      }
    }

    var moviStart = -1; var moviEnd = -1
    var p = 12
    while (p + 8 <= end) {
      val id = fourcc(payload, p)
      val size = u32le(payload, p + 4)
      val dataEnd = p + 8 + size
      if (dataEnd > end) return None
      if (id == "LIST" && size >= 4) {
        val lt = fourcc(payload, p + 8)
        if (lt == "hdrl") scanHdrl(p + 12, dataEnd.toInt, 0)
        else if (lt == "movi" && moviStart < 0) {
          moviStart = p + 12; moviEnd = dataEnd.toInt
        }
      }
      p = (dataEnd + (size & 1)).toInt
    }
    if (moviStart < 0) None
    else Some(AviLayout(moviStart, moviEnd, mjpgStream, strfW, strfH,
      pcmStream, rate))
  }

  def decodeAviMjpegFrames(payload: Array[Byte], every: Int = 1)
      : Option[(Int, Int, Int, Seq[(Int, Array[Int])])] = {
    if (every < 1) return None
    val lay = parseAviLayout(payload).getOrElse(return None)
    if (lay.mjpgStream < 0 || lay.w <= 0 || lay.h <= 0) return None
    val streamId = f"${lay.mjpgStream}%02d"

    // movi walk: only THIS stream's 'NNdc'/'NNdb' chunks are frames —
    // interleaved audio ('NNwb') and other streams skip per the spec.
    val sampled = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Int])]
    var idx = 0
    var pixelBudget = aviMaxSampledPixels
    var p = lay.moviStart
    while (p + 8 <= lay.moviEnd) {
      val id = fourcc(payload, p)
      val size = u32le(payload, p + 4)
      val dataEnd = p + 8 + size
      if (dataEnd > lay.moviEnd) return None
      val suffix = id.substring(2)
      if (id.startsWith(streamId) && (suffix == "dc" || suffix == "db")) {
        if (idx % every == 0) {
          val frame = java.util.Arrays.copyOfRange(payload, p + 8, dataEnd.toInt)
          decodeJpegRgb(frame) match {
            case Some((w, h, rgb)) if w == lay.w && h == lay.h =>
              pixelBudget -= w.toLong * h
              if (pixelBudget < 0) return None
              sampled += ((idx, rgb))
            case _ => return None
          }
        } else {
          // skipped frames still get the structural check the Y4M reader
          // gives every frame: a video chunk must at least open with SOI
          if (size < 2 || (payload(p + 8) & 0xff) != 0xff ||
            (payload(p + 9) & 0xff) != 0xd8) return None
        }
        idx += 1
      }
      p = (dataEnd + (size & 1)).toInt
    }
    if (idx == 0) None else Some((lay.w, lay.h, idx, sampled.toSeq))
  }

  /** Extract the PCM audio stream of an AVI: concatenated samples of
    * the first auds stream's 'NNwb' chunks, in movi order — the same
    * (sampleRate, samples) contract as [[decodeWavPcm16]], so every
    * audio op runs on AVI-embedded audio exactly as on a bare WAV.
    * None without a conformant PCM/mono/16 auds stream, on a truncated
    * chunk, or past the same total-allocation cap class as the video
    * side (64 M samples = 128 MB). */
  def decodeAviPcm(payload: Array[Byte]): Option[(Int, Array[Short])] = {
    val lay = parseAviLayout(payload).getOrElse(return None)
    if (lay.pcmStream < 0 || lay.sampleRate <= 0) return None
    val streamId = f"${lay.pcmStream}%02d"
    val chunks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var total = 0L
    var p = lay.moviStart
    while (p + 8 <= lay.moviEnd) {
      val id = fourcc(payload, p)
      val size = u32le(payload, p + 4)
      val dataEnd = p + 8 + size
      if (dataEnd > lay.moviEnd) return None
      if (id.startsWith(streamId) && id.substring(2) == "wb") {
        if ((size & 1) == 1) return None // 16-bit PCM: odd chunk is malformed
        chunks += ((p + 8, size.toInt))
        total += size / 2
        if (total > (64L << 20)) return None
      }
      p = (dataEnd + (size & 1)).toInt
    }
    if (total == 0) return None
    val out = new Array[Short](total.toInt)
    var o = 0
    chunks.foreach { case (off, len) =>
      var i = 0
      while (i < len) {
        out(o) = ((payload(off + i) & 0xff) | (payload(off + i + 1) << 8)).toShort
        i += 2; o += 1
      }
    }
    Some((lay.sampleRate, out))
  }

  /** Per-sampled-frame channel sums — [[imageStats]] with a frame axis,
    * through either real video container: AVI/MJPEG sums the decoded
    * plane with [[rgbSums]]; Y4M (mono) reports its luma sum in all three channels (gray
    * pixels ARE (v,v,v)). Map-only, same decode boundary as every other
    * codec op. */
  case class VideoFrameStats(media_id: Long, n_frames: Int, frame_idx: Int,
                             width: Int, height: Int, r_sum: Long,
                             g_sum: Long, b_sum: Long)

  def videoFrameStats(media: Dataset[MediaRecord], every: Int = 1): Dataset[VideoFrameStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeAviMjpegFrames(r.payload, every).map { case (w, h, n, frames) =>
          frames.map { case (idx, rgb) =>
            val sums = rgbSums(rgb)
            VideoFrameStats(r.media_id, n, idx, w, h, sums(0), sums(1), sums(2))
          }
        }.orElse(decodeY4mFrames(r.payload, every).map { case (w, h, n, frames) =>
          frames.map { case (idx, gray) =>
            var s = 0L
            var i = 0
            while (i < gray.length) { s += gray(i); i += 1 }
            VideoFrameStats(r.media_id, n, idx, w, h, s, s, s)
          }
        }).getOrElse(Seq.empty)
      }
    }
  }

  // ------------------------------------------------------------------
  // AUDIO: a REAL pure-JVM WAV (RIFF / 16-bit mono PCM) codec — same
  // contract as the image path: uncompressed container formats parse
  // for real over real bytes; compressed audio (MP3/AAC/Opus) would
  // take the decodeStub fallback until a codec library is linked. The
  // feature set is the standard audio-pipeline battery: per-record
  // stats (duration, peak, RMS, zero-crossings), fixed-width frame
  // energies (the spectrogram-less analogue of STFT frames), and an
  // energy-delta fingerprint (Haitsma–Kalker style sign-of-derivative
  // bits) that feeds the SAME banded-Hamming near-dup machinery as
  // SimHash / image aHash. All integer arithmetic — engine- and
  // order-invariant, so every query is value-exact against a DuckDB
  // replay of the generator algebra.
  // ------------------------------------------------------------------

  /** Decoded audio statistics: all exact integers. `rms` is the floor
    * square root of the mean squared sample (integer mean first). */
  case class AudioStats(media_id: Long, sample_rate: Int, n_samples: Long,
                        duration_ms: Long, peak: Int, rms: Long,
                        zero_crossings: Long)

  /** One fixed-width analysis frame: `energy` = Σ s² over the frame
    * (exact Long), `zcr` = sign changes between consecutive samples
    * WITHIN the frame (frame-local, so frames are independent). */
  case class AudioFrame(media_id: Long, frame_id: Int, n: Int,
                        energy: Long, zcr: Int)

  /** Write a canonical 16-bit mono PCM WAV: RIFF header, `fmt ` chunk,
    * `data` chunk, little-endian samples. */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, s"need positive sample rate, got $sampleRate")
    val dataSize = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                   // PCM
      .putShort(1)                   // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)        // byte rate
      .putShort(2)                   // block align
      .putShort(16)                  // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < samples.length) { b.putShort(samples(i)); i += 1 }
    b.array()
  }

  /** Parse a WAV container: (sampleRate, samples) for 16-bit mono PCM,
    * None for anything else (wrong magic, compressed, multi-channel,
    * truncated). Walks the chunk list — `fmt ` and `data` may appear in
    * any order with unknown chunks (LIST, fact, ...) between them, and
    * odd-sized chunks carry a pad byte, both per the RIFF spec.
    * Test-only: backs COVERAGE.md's "Real WAV/PCM16 audio codec" row. */
  def decodeWavPcm16(payload: Array[Byte]): Option[(Int, Array[Short])] = {
    if (payload.length < 44) return None
    val b = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int): String =
      new String(payload, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var rate = -1
    var dataOff = -1; var dataLen = -1
    while (off + 8 <= payload.length && (rate < 0 || dataOff < 0)) {
      val id = tag(off)
      val size = b.getInt(off + 4)
      if (size < 0 || off + 8 + size.toLong > payload.length) return None
      id match {
        case "fmt " =>
          if (size < 16) return None
          val fmt = b.getShort(off + 8)
          val channels = b.getShort(off + 10)
          val bits = b.getShort(off + 22)
          if (fmt != 1 || channels != 1 || bits != 16) return None
          rate = b.getInt(off + 12)
          if (rate <= 0) return None
        case "data" =>
          dataOff = off + 8; dataLen = size
        case _ => // skip unknown chunk
      }
      off += 8 + size + (size & 1) // odd chunks are padded to even
    }
    if (rate < 0 || dataOff < 0) return None
    val n = dataLen / 2
    val out = new Array[Short](n)
    var i = 0
    while (i < n) { out(i) = b.getShort(dataOff + i * 2); i += 1 }
    Some((rate, out))
  }

  // --- G.711 mu-law (ITU-T G.711, the telephony / real-corpus 8-bit
  // companding) — the canonical segment/quantization algebra, all
  // integer, so a DuckDB oracle replays it exactly:
  //   u = ~code & 0xff
  //   t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
  //   v = (u & 0x80) != 0 ? 0x84 - t : t - 0x84
  // Output range ±32124 at 16-bit scale; codes 0x7f and 0xff are the
  // two zeros (negative zero re-encodes to 0xff — the one non-identity
  // of the code→linear→code round trip).

  /** Expand one mu-law code (0..255) to a 16-bit linear sample. */
  def muLawDecode(code: Int): Int = {
    val u = ~code & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** Compress a 16-bit linear sample to its mu-law code: bias, find the
    * segment (exponent), keep 4 mantissa bits, complement. Left inverse
    * of [[muLawDecode]] on the decode image (modulo the two zeros).
    * Test-only: backs COVERAGE.md's "G.711 mu-law WAV" row. */
  def muLawEncode(sample: Int): Int = {
    val neg = sample < 0
    val mag = math.min(if (neg) -sample.toLong else sample.toLong, 32635L).toInt
    val v = mag + 0x84 // bias; clamped so v <= 0x7fff and seg <= 7
    var seg = 0
    while (v >= (0x100 << seg)) seg += 1 // segment ends at (0x100<<s)-1
    val uval = (seg << 4) | ((v >> (seg + 3)) & 0x0f)
    (uval ^ (if (neg) 0x7f else 0xff)) & 0xff
  }

  // --- G.711 A-law (the European-telephony sibling of mu-law; same
  // segment structure, XOR-0x55 toggle instead of complement, no bias):
  //   u = code ^ 0x55
  //   t = (u & 0x0f) << 4;  seg = (u & 0x70) >> 4
  //   t = seg == 0 ? t + 8 : (t + 0x108) << (seg - 1)
  //   v = (u & 0x80) != 0 ? t : -t
  // Output range ±32256 at 16-bit scale; integer algebra, so the
  // DuckDB oracle replays it exactly.

  /** Expand one A-law code (0..255) to a 16-bit linear sample. */
  def aLawDecode(code: Int): Int = {
    val u = (code ^ 0x55) & 0xff
    val seg = (u & 0x70) >> 4
    val t =
      if (seg == 0) ((u & 0x0f) << 4) + 8
      else (((u & 0x0f) << 4) + 0x108) << (seg - 1)
    if ((u & 0x80) != 0) t else -t
  }

  /** Compress a 16-bit linear sample to its A-law code — left inverse
    * of [[aLawDecode]] on the decode image.
    * Test-only: backs COVERAGE.md's "G.711 A-law WAV" row. */
  def aLawEncode(sample: Int): Int = {
    val pos = sample >= 0
    var mag = math.min(if (pos) sample.toLong else -sample.toLong, 32767L).toInt
    var seg = 0
    while (seg < 8 && mag > (0xff << seg | ((1 << seg) - 1))) seg += 1
    // segment ends: 0xFF, 0x1FF, ... (same ladder as mu-law, no bias)
    val uval =
      if (seg >= 8) 0x7f
      else if (seg == 0) (mag >> 4) & 0x0f
      else (seg << 4) | ((mag >> (seg + 3)) & 0x0f)
    (((if (pos) 0x80 else 0) | uval) ^ 0x55) & 0xff
  }

  /** Parse a WAV into per-channel 16-bit sample arrays — the
    * channel-aware superset of [[decodeWavPcm16]]. Accepted formats
    * (WAVEFORMATEX, public Microsoft/IBM spec): PCM 16-bit signed,
    * PCM 8-bit unsigned (normalized `(v−128)·256`), mu-law
    * (wFormatTag 7, 8-bit, G.711 expand), and A-law (wFormatTag 6,
    * 8-bit) — each at 1..8 interleaved channels. Everything else (float,
    * 24-bit, any other wFormatTag, bad block align, partial final frame,
    * truncation) returns None, same conformance
    * posture as the rest of the codec layer. The de-mux keeps the
    * per-channel (rate, samples-per-channel) contract so every channel
    * runs through the audio battery exactly like a mono WAV. */
  def decodeWavChannels(payload: Array[Byte]): Option[(Int, Array[Array[Short]])] = {
    if (payload.length < 44) return None
    val b = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int): String = new String(payload, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var rate = -1; var fmt = -1; var channels = -1; var bits = -1
    var dataOff = -1; var dataLen = -1
    while (off + 8 <= payload.length && (fmt < 0 || dataOff < 0)) {
      val id = tag(off)
      val size = b.getInt(off + 4)
      if (size < 0 || off + 8 + size.toLong > payload.length) return None
      id match {
        case "fmt " =>
          if (size < 16) return None
          fmt = b.getShort(off + 8)
          channels = b.getShort(off + 10)
          rate = b.getInt(off + 12)
          val blockAlign = b.getShort(off + 20)
          bits = b.getShort(off + 22)
          val ok = rate > 0 && channels >= 1 && channels <= 8 &&
            ((fmt == 1 && (bits == 16 || bits == 8)) ||
              ((fmt == 6 || fmt == 7) && bits == 8)) &&
            blockAlign == channels * (bits / 8)
          if (!ok) return None
        case "data" =>
          dataOff = off + 8; dataLen = size
        case _ => // skip unknown chunk
      }
      off += 8 + size + (size & 1)
    }
    if (fmt < 0 || dataOff < 0) return None
    val bytesPerSample = bits / 8
    val frameBytes = channels * bytesPerSample
    if (dataLen % frameBytes != 0) return None // partial final frame
    val nPerChannel = dataLen / frameBytes
    val out = Array.fill(channels)(new Array[Short](nPerChannel))
    var i = 0
    while (i < nPerChannel) {
      var c = 0
      while (c < channels) {
        val p = dataOff + i * frameBytes + c * bytesPerSample
        out(c)(i) =
          if (bits == 16) b.getShort(p)
          else if (fmt == 7) muLawDecode(payload(p) & 0xff).toShort
          else if (fmt == 6) aLawDecode(payload(p) & 0xff).toShort
          else (((payload(p) & 0xff) - 128) << 8).toShort // 8-bit PCM
        c += 1
      }
      i += 1
    }
    Some((rate, out))
  }

  /** Shared fixture/sink encoder: RIFF/WAVE header for (fmt, channels,
    * bits) + the raw interleaved data bytes. */
  private def encodeWavRaw(sampleRate: Int, fmt: Int, channels: Int,
                           bits: Int, data: Array[Byte]): Array[Byte] = {
    require(sampleRate > 0 && channels >= 1, "bad WAV geometry")
    val b = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(fmt.toShort)
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * (bits / 8))
      .putShort((channels * (bits / 8)).toShort)
      .putShort(bits.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(data.length)
    b.put(data)
    b.array()
  }

  /** 16-bit PCM WAV at `channels` interleaved channels (L R L R …). */
  def encodeWavPcm16Multi(sampleRate: Int, channels: Int,
                          interleaved: Array[Short]): Array[Byte] = {
    require(interleaved.length % channels == 0, "partial final frame")
    val data = new Array[Byte](interleaved.length * 2)
    var i = 0
    while (i < interleaved.length) {
      data(i * 2) = (interleaved(i) & 0xff).toByte
      data(i * 2 + 1) = ((interleaved(i) >> 8) & 0xff).toByte
      i += 1
    }
    encodeWavRaw(sampleRate, 1, channels, 16, data)
  }

  /** 8-bit unsigned PCM WAV (codes 0..255, interleaved). */
  def encodeWavPcm8(sampleRate: Int, channels: Int,
                    codes: Array[Byte]): Array[Byte] = {
    require(codes.length % channels == 0, "partial final frame")
    encodeWavRaw(sampleRate, 1, channels, 8, codes)
  }

  /** mu-law WAV (wFormatTag 7, G.711 codes, interleaved). */
  def encodeWavMulaw(sampleRate: Int, channels: Int,
                     codes: Array[Byte]): Array[Byte] = {
    require(codes.length % channels == 0, "partial final frame")
    encodeWavRaw(sampleRate, 7, channels, 8, codes)
  }

  /** A-law WAV (wFormatTag 6, G.711 codes, interleaved). */
  def encodeWavAlaw(sampleRate: Int, channels: Int,
                    codes: Array[Byte]): Array[Byte] = {
    require(codes.length % channels == 0, "partial final frame")
    encodeWavRaw(sampleRate, 6, channels, 8, codes)
  }

  /** Exact integer floor square root (no float round-trip on the hot
    * path — the value must equal the oracle's for every input). */
  private[llm] def floorSqrt(x: Long): Long = {
    require(x >= 0, s"floorSqrt of negative $x")
    if (x == 0) return 0L
    var r = math.sqrt(x.toDouble).toLong + 1
    while (r * r > x) r -= 1
    r
  }

  /** Container-dispatched PCM decode — the shared entry for every
    * MONO audio op: bare WAV (any accepted format — 16-bit, 8-bit, or
    * mu-law flow through the whole battery identically once expanded
    * to 16-bit linear) or the PCM stream of an interleaved MJPEG+PCM
    * AVI ([[decodeAviPcm]]), so a fingerprint depends on the SAMPLES,
    * never the container or the companding (the audio twin of the
    * image/video parity guarantee). Multi-channel WAVs drop here — the
    * channel-aware ops ([[audioChannelStats]]) own them. */
  private def decodeAudioPcm(payload: Array[Byte]): Option[(Int, Array[Short])] =
    decodeWavChannels(payload) match {
      case Some((rate, chs)) if chs.length == 1 => Some((rate, chs(0)))
      case Some(_) => None
      case None => decodeAviPcm(payload)
    }

  /** Per-channel decode stats: [[audioStats]] lifted over the channel
    * axis — a stereo WAV yields two rows (channel 0 = left per the
    * interleave order), each computed on that channel's samples alone
    * under the same (rate, samples-per-channel) contract as mono.
    * Map-only like every decode op. AVI-embedded PCM (mono by the
    * [[decodeAviPcm]] gate) reports as channel 0 of 1. */
  case class AudioChannelStats(media_id: Long, channel: Int, n_channels: Int,
                               sample_rate: Int, n_samples: Long,
                               duration_ms: Long, peak: Int, rms: Long,
                               zero_crossings: Long)

  private def channelStats(s: Array[Short]): (Int, Long, Long) = {
    var peak = 0; var sumSq = 0L; var zc = 0L
    var i = 0
    while (i < s.length) {
      val v = s(i).toInt
      val a = math.abs(v)
      if (a > peak) peak = a
      sumSq += v.toLong * v
      if (i > 0 && (s(i - 1) < 0) != (v < 0)) zc += 1
      i += 1
    }
    (peak, if (s.length == 0) 0L else floorSqrt(sumSq / s.length), zc)
  }

  def audioChannelStats(media: Dataset[MediaRecord]): Dataset[AudioChannelStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeWavChannels(r.payload)
          .orElse(decodeAviPcm(r.payload).map { case (rate, s) => (rate, Array(s)) })
          .toSeq.flatMap { case (rate, chs) =>
            chs.iterator.zipWithIndex.map { case (s, c) =>
              val (peak, rms, zc) = channelStats(s)
              AudioChannelStats(r.media_id, c, chs.length, rate, s.length,
                s.length.toLong * 1000 / rate, peak, rms, zc)
            }
          }
      }
    }
  }

  /** Per-partition REAL decode → audio statistics. Map-only: the decode
    * and the per-record reduction happen inside one task; nothing
    * shuffles until the caller aggregates. Payloads in neither PCM
    * container drop. */
  def audioStats(media: Dataset[MediaRecord]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeAudioPcm(r.payload).map { case (rate, s) =>
          val (peak, rms, zc) = channelStats(s)
          AudioStats(r.media_id, rate, s.length,
            s.length.toLong * 1000 / rate, peak, rms, zc)
        }
      }
    }
  }

  /** Fixed-width frame energies + frame-local zero-crossing counts. The
    * tail frame may be short (`n` < `frameLen`); zcr pairs never span a
    * frame boundary, so the frames of one record are independent and
    * the whole operator stays map-only (one output row per frame,
    * emitted from the decode task). */
  def audioFrames(media: Dataset[MediaRecord],
                  frameLen: Int = 160): Dataset[AudioFrame] = {
    require(frameLen > 0, s"need positive frame length, got $frameLen")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeAudioPcm(r.payload).toSeq.flatMap { case (_, s) =>
          val nFrames = (s.length + frameLen - 1) / frameLen
          (0 until nFrames).map { f =>
            val lo = f * frameLen
            val hi = math.min(s.length, lo + frameLen)
            var e = 0L; var zc = 0
            var i = lo
            while (i < hi) {
              val v = s(i).toInt
              e += v.toLong * v
              if (i > lo && (s(i - 1) < 0) != (v < 0)) zc += 1
              i += 1
            }
            AudioFrame(r.media_id, f, hi - lo, e, zc)
          }
        }
      }
    }
  }

  /** Energy-delta fingerprint (Haitsma–Kalker sign-of-derivative, time
    * domain): bit f of `fp` is 1 iff energy(frame f+1) > energy(frame
    * f), for the first `bits` deltas. Identical audio → identical fp;
    * small edits flip few bits, so [[graft.llm.Dedup.sigBandPairs]]
    * applies unchanged. Input is [[audioFrames]] output. ONE exchange:
    * the adjacent-frame pairing is a lead() window PARTITIONED BY
    * media_id (high-cardinality key — never a one-task window), and the
    * bit packing rides the same partitioning as a partial aggregate. */
  def audioFingerprint(frames: Dataset[AudioFrame], bits: Int = 48): DataFrame = {
    require(bits > 0 && bits <= 63, s"fp bits must be in 1..63, got $bits")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("media_id").orderBy("frame_id")
    frames.toDF()
      .withColumn("energy_next", lead(col("energy"), 1).over(w))
      .filter(col("frame_id") < bits && col("energy_next").isNotNull)
      .groupBy(col("media_id"))
      .agg(sum(when(col("energy_next") > col("energy"),
        expr("shiftleft(1L, cast(frame_id as int))"))
        .otherwise(0L)).as("fp"))
  }

  // ------------------------------------------------------------------
  // JPEG (ITU-T T.81): a REAL pure-JVM codec — the one format a
  // production multimodal corpus hits constantly, previously the last
  // decodeStub fallback. Encoders: JFIF, 8-bit, 4:4:4 baseline
  // ([[encodeJpeg]]), 4:2:0 baseline ([[encodeJpeg420]]), and
  // progressive 4:4:4 ([[encodeJpegProgressive]]); standard Annex K
  // Huffman tables, quant = 1 for DC / 2 for AC (near-lossless; DC of a
  // block-CONSTANT component round-trips bit-exactly — the property the
  // analytic oracles use). Decoder: baseline sequential SOF0 AND
  // progressive SOF2 (full Annex G: DC/AC first + refinement scans,
  // EOB runs, interleaved and non-interleaved), 1 or 3 components,
  // luma subsampling up to 2x2, DRI/RSTn and 0xFF00 byte stuffing
  // handled; arithmetic/lossless/extended/16-bit-quant payloads return
  // None (the same Option fallback contract as BMP/PPM/PNG).
  // Color conversion is integer fixed-point on BOTH directions so the
  // DuckDB oracles replicate it with exact integer arithmetic
  // (floor-shift >> 16 on the JVM == // 65536 in SQL, negatives
  // included).
  // ------------------------------------------------------------------

  // standard Huffman tables (T.81 Annex K.3): (BITS counts per code
  // length 1..16, VALS symbols in canonical order)
  private val jpegDcLumaBits =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val jpegDcLumaVals = Array.range(0, 12)
  private val jpegDcChromaBits =
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val jpegDcChromaVals = Array.range(0, 12)
  private val jpegAcLumaBits =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val jpegAcLumaVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val jpegAcChromaBits =
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val jpegAcChromaVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
    0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
    0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
    0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
    0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Zig-zag order: zigzag(k) = the natural (row-major) index of the
    * k-th coefficient in scan order (T.81 Figure 5). */
  private val jpegZigzag = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** DC quant 1, AC quant 2 (natural order): near-lossless; AC/2 keeps
    * every possible coefficient of ±128-range input inside Huffman
    * category 10, and a block-constant component (AC ≡ 0) round-trips
    * its DC — hence its pixels — bit-exactly. */
  private val jpegQuant: Array[Int] = Array.tabulate(64)(i => if (i == 0) 1 else 2)

  /** RGB -> YCbCr, integer fixed-point (coefficient sums chosen so a
    * gray pixel r=g=b=v maps to exactly (v, 128, 128) — gray images
    * round-trip bit-exactly through the codec pair). Every numerator
    * that can go negative carries a +2^24 bias (removed as −256 after
    * the shift): with a NON-NEGATIVE numerator, floor (JVM >> 16) and
    * truncation (Spark `div`, DuckDB `//`) agree, so the oracle SQL
    * replays these exactly with `// 65536 - 256`. */
  private def jpegClamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  private final val JpegBias = 1 << 24 // 256 · 65536
  private[graft] def jpegRgbToY(r: Int, g: Int, b: Int): Int =
    jpegClamp((19595 * r + 38470 * g + 7471 * b + 32768) >> 16)
  private[graft] def jpegRgbToCb(r: Int, g: Int, b: Int): Int =
    jpegClamp(128 + (((-11059 * r - 21709 * g + 32768 * b + 32768 + JpegBias) >> 16) - 256))
  private[graft] def jpegRgbToCr(r: Int, g: Int, b: Int): Int =
    jpegClamp(128 + (((32768 * r - 27439 * g - 5329 * b + 32768 + JpegBias) >> 16) - 256))
  private[graft] def jpegYccToR(y: Int, cr: Int): Int =
    jpegClamp(y + (((91881 * (cr - 128) + 32768 + JpegBias) >> 16) - 256))
  private[graft] def jpegYccToG(y: Int, cb: Int, cr: Int): Int =
    jpegClamp(y - (((22554 * (cb - 128) + 46802 * (cr - 128) + 32768 + JpegBias) >> 16) - 256))
  private[graft] def jpegYccToB(y: Int, cb: Int): Int =
    jpegClamp(y + (((116130 * (cb - 128) + 32768 + JpegBias) >> 16) - 256))

  private final class JpegBitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0; private var nBits = 0
    def put(bits: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((bits >> i) & 1); nBits += 1
        if (nBits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; nBits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nBits > 0) { put(0xff, 8 - nBits) } // 1-pad
  }

  /** (code, length) per symbol from a (BITS, VALS) table pair —
    * canonical Huffman code assignment (T.81 Annex C). */
  private def jpegCodes(bits: Array[Int], vals: Array[Int]): Array[(Int, Int)] = {
    val codes = new Array[(Int, Int)](256)
    var code = 0; var k = 0
    for (len <- 1 to 16) {
      var i = 0
      while (i < bits(len - 1)) { codes(vals(k)) = (code, len); code += 1; k += 1; i += 1 }
      code <<= 1
    }
    codes
  }
  private val jpegDcLumaCodes = jpegCodes(jpegDcLumaBits, jpegDcLumaVals)
  private val jpegAcLumaCodes = jpegCodes(jpegAcLumaBits, jpegAcLumaVals)
  private val jpegDcChromaCodes = jpegCodes(jpegDcChromaBits, jpegDcChromaVals)
  private val jpegAcChromaCodes = jpegCodes(jpegAcChromaBits, jpegAcChromaVals)

  private def jpegCategory(v: Int): Int = {
    var a = math.abs(v); var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** cos((2a+1)·b·π/16) for a, b in 0..7 — the only trig the DCTs need,
    * precomputed once (the direct-evaluation loops would otherwise pay
    * 8192 math.cos calls per block on the decode hot path). */
  private val jpegCosTab: Array[Array[Double]] =
    Array.tabulate(8, 8)((a, b) => math.cos((2 * a + 1) * b * math.Pi / 16))

  /** Forward 8x8 DCT (T.81 A.3.3), direct double evaluation. */
  private def jpegFdct(s: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        val cu = if (u == 0) 0.7071067811865476 else 1.0
        val cv = if (v == 0) 0.7071067811865476 else 1.0
        var acc = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            acc += s(y * 8 + x) * jpegCosTab(x)(v) * jpegCosTab(y)(u)
            x += 1
          }
          y += 1
        }
        out(u * 8 + v) = 0.25 * cu * cv * acc
        v += 1
      }
      u += 1
    }
    out
  }

  /** Inverse 8x8 DCT, direct double evaluation (rounded by the caller). */
  private def jpegIdct(c: Array[Int]): Array[Double] = {
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            val cu = if (u == 0) 0.7071067811865476 else 1.0
            val cv = if (v == 0) 0.7071067811865476 else 1.0
            acc += cu * cv * c(u * 8 + v) * jpegCosTab(x)(v) * jpegCosTab(y)(u)
            v += 1
          }
          u += 1
        }
        out(y * 8 + x) = 0.25 * acc
        x += 1
      }
      y += 1
    }
    out
  }

  /** Huffman-code one DC difference: its category symbol from `dc`,
    * then its magnitude bits. */
  private def jpegPutDc(w: JpegBitWriter, diff: Int, dc: Array[(Int, Int)]): Unit = {
    val s = jpegCategory(diff)
    val (code, len) = dc(s)
    w.put(code, len)
    if (s > 0) w.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
  }

  /** Huffman-code the zig-zag band [ss, se] of one quantized block:
    * (run, size) symbols from `ac` with their magnitude bits, ZRL per 16
    * zeros before a nonzero, EOB after a trailing zero run — the AC coding
    * of the baseline scan (band 1..63) and of every progressive AC-first
    * scan alike. */
  private def jpegPutAc(w: JpegBitWriter, zz: Array[Int], ss: Int, se: Int,
                        ac: Array[(Int, Int)]): Unit = {
    var k = ss; var run = 0
    while (k <= se) {
      if (zz(k) == 0) run += 1
      else {
        while (run >= 16) { val (zc, zl) = ac(0xf0); w.put(zc, zl); run -= 16 }
        val s = jpegCategory(zz(k))
        val (code, len) = ac((run << 4) | s)
        w.put(code, len)
        w.put(if (zz(k) < 0) zz(k) + (1 << s) - 1 else zz(k), s)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (ec, el) = ac(0x00); w.put(ec, el) } // EOB
  }

  /** `pixel(x, y)` with each channel taken mod 256 (negatives wrap like a
    * byte) — the input rule of every RGB JFIF writer. */
  private def rgbMod256(pixel: (Int, Int) => (Int, Int, Int))(x: Int, y: Int): (Int, Int, Int) = {
    val (r, g, b) = pixel(x, y)
    (r & 0xff, g & 0xff, b & 0xff)
  }

  /** The byte sink of every JFIF writer: big-endian u16s, two-byte
    * markers and scan headers. */
  private final class JfifOut extends java.io.ByteArrayOutputStream {
    def u16(v: Int): Unit = { write((v >> 8) & 0xff); write(v & 0xff) }
    def marker(m: Int): Unit = { write(0xff); write(m) }
    /** SOS over `comps` (component 0 on table 0, chroma on table 1),
      * spectral band [ss, se], successive approximation `ah`/`al`. */
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xda); u16(6 + 2 * comps.length)
      write(comps.length)
      comps.foreach { c => write(c + 1); write(if (c == 0) 0x00 else 0x11) }
      write(ss); write(se); write((ah << 4) | al)
    }
  }

  /** Write a baseline JFIF file: 8-bit, `pixel(x, y)` -> (r, g, b) taken
    * mod 256, three components at 4:4:4 (every sampling factor 1),
    * standard Annex K Huffman tables, quant 1 (DC) / 2 (AC). Dimensions
    * pad to block multiples by edge replication and the decoder crops
    * back, so a pixel function constant over each 8x8 block (the
    * analytic-oracle fixtures) survives the padding unchanged. */
  def encodeJpeg(width: Int, height: Int,
                 pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] =
    encodeJpegPlanes(width, height, 3, (x, y) => {
      val (r, g, b) = rgbMod256(pixel)(x, y)
      Array(jpegRgbToY(r, g, b), jpegRgbToCb(r, g, b), jpegRgbToCr(r, g, b))
    })

  /** Grayscale (single-component) baseline JFIF — `gray(x, y)` mod 256. */
  def encodeJpegGray(width: Int, height: Int,
                     gray: (Int, Int) => Int): Array[Byte] =
    encodeJpegPlanes(width, height, 1,
      (x, y) => Array(gray(x, y) & 0xff))

  /** JFIF prologue shared by EVERY writer (baseline 4:4:4 / 4:2:0 via
    * [[JpegEncoder]], progressive via [[encodeJpegProgressive]]):
    * SOI/APP0/DQT/SOF(`sofMarker`)/DHTs — one definition, so a quant- or
    * Huffman-table change can never diverge the encoders (the r12 lesson
    * that created the shared core, extended to the SOF2 writer). */
  private def jpegWriteJfifPrologue(out: JfifOut,
                                    width: Int, height: Int, nComp: Int,
                                    sampling: Array[Int],
                                    sofMarker: Int): Unit = {
    import out.{marker, u16}
    marker(0xd8) // SOI
    marker(0xe0); u16(16) // APP0 JFIF
    out.write(Array('J', 'F', 'I', 'F', 0).map(_.toByte)); out.write(1); out.write(1)
    out.write(0); u16(1); u16(1); out.write(0); out.write(0)
    marker(0xdb); u16(2 + 65) // DQT, table 0, 8-bit
    out.write(0x00)
    for (k <- 0 until 64) out.write(jpegQuant(jpegZigzag(k)))
    marker(sofMarker); u16(8 + 3 * nComp)
    out.write(8); u16(height); u16(width); out.write(nComp)
    for (c <- 0 until nComp) { out.write(c + 1); out.write(sampling(c)); out.write(0) }
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length)
      out.write((cls << 4) | id)
      bits.foreach(out.write)
      vals.foreach(out.write)
    }
    dht(0, 0, jpegDcLumaBits, jpegDcLumaVals)
    dht(1, 0, jpegAcLumaBits, jpegAcLumaVals)
    if (nComp == 3) {
      dht(0, 1, jpegDcChromaBits, jpegDcChromaVals)
      dht(1, 1, jpegAcChromaBits, jpegAcChromaVals)
    }
  }

  /** FDCT + quantize one level-shifted 8x8 block into zigzag order —
    * the one arithmetic every writer shares. */
  private def jpegQuantizedZigzag(block: Array[Double], zz: Array[Int]): Unit = {
    val coef = jpegFdct(block)
    var k = 0
    while (k < 64) {
      val natK = jpegZigzag(k)
      zz(k) = math.round(coef(natK) / jpegQuant(natK)).toInt
      k += 1
    }
  }

  /** Shared encoder core: JFIF prologue + SOS plus the per-block
    * FDCT -> quantize -> Huffman emit — ONE definition for the 4:4:4 and
    * 4:2:0 writers, which previously duplicated ~50 lines each (a DQT or
    * DHT change had to land twice or the two encoders silently
    * diverged). */
  private final class JpegEncoder(width: Int, height: Int, nComp: Int,
                                  sampling: Array[Int]) {
    private val out = new JfifOut
    locally {
      jpegWriteJfifPrologue(out, width, height, nComp, sampling, 0xc0)
      out.sos(0 until nComp, 0, 63, 0, 0) // baseline: one full scan
    }
    private val bw = new JpegBitWriter(out)
    private val dcPred = new Array[Int](nComp)
    private val block = new Array[Double](64)
    private val zz = new Array[Int](64)
    /** FDCT + quantize + emit one 8x8 block of component `c`, sampled at
      * origin (ox, oy) via `sample`. */
    def emitBlock(c: Int, sample: (Int, Int) => Int, ox: Int, oy: Int): Unit = {
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          block(yy * 8 + xx) = sample(ox + xx, oy + yy) - 128.0
          xx += 1
        }
        yy += 1
      }
      jpegQuantizedZigzag(block, zz)
      jpegPutDc(bw, zz(0) - dcPred(c), if (c == 0) jpegDcLumaCodes else jpegDcChromaCodes)
      jpegPutAc(bw, zz, 1, 63, if (c == 0) jpegAcLumaCodes else jpegAcChromaCodes)
      dcPred(c) = zz(0)
    }
    def finish(): Array[Byte] = {
      bw.flush()
      out.marker(0xd9) // EOI
      out.toByteArray
    }
  }

  private def encodeJpegPlanes(width: Int, height: Int, nComp: Int,
                               samples: (Int, Int) => Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0, s"need positive dims, got $width x $height")
    require(nComp == 1 || nComp == 3, s"1 or 3 components, got $nComp")
    val enc = new JpegEncoder(width, height, nComp,
      Array.fill(nComp)(0x11)) // 4:4:4 — every factor 1
    val bxN = (width + 7) / 8
    val byN = (height + 7) / 8
    // every component reads the SAME 64 pixel positions per MCU — fetch
    // each position's full sample vector ONCE (the per-component fetch
    // recomputed all three color conversions 3x and allocated an array
    // per read)
    val cache = new Array[Array[Int]](64)
    var by = 0
    while (by < byN) {
      var bx = 0
      while (bx < bxN) {
        var i = 0
        while (i < 64) {
          // edge replication pad
          val sx = math.min(bx * 8 + i % 8, width - 1)
          val sy = math.min(by * 8 + i / 8, height - 1)
          cache(i) = samples(sx, sy)
          i += 1
        }
        var c = 0
        while (c < nComp) {
          enc.emitBlock(c, (x, y) => cache((y - by * 8) * 8 + (x - bx * 8))(c),
            bx * 8, by * 8)
          c += 1
        }
        bx += 1
      }
      by += 1
    }
    enc.finish()
  }

  /** Write a baseline JFIF file at 4:2:0 — the dominant web flavor: luma
    * at full resolution (sampling 2x2), chroma averaged over 2x2 pixel
    * quads at quarter resolution. MCU = 4 Y blocks + Cb + Cr. A pixel
    * function whose CHROMA is constant per 16x16 MCU (the analytic
    * fixtures) survives the downsample/upsample round trip exactly;
    * [[decodeJpegRgb]] upsamples by sample replication. */
  def encodeJpeg420(width: Int, height: Int,
                    pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0, s"need positive dims, got $width x $height")
    def rgbAt(x: Int, y: Int): (Int, Int, Int) =
      rgbMod256(pixel)(math.min(x, width - 1), math.min(y, height - 1))
    def yAt(x: Int, y: Int): Int = {
      val (r, g, b) = rgbAt(x, y); jpegRgbToY(r, g, b)
    }
    def chromaAt(cx: Int, cy: Int, cb: Boolean): Int = {
      // average the 2x2 pixel quad (edge-replicated), round half up
      var sum = 0
      var dy = 0
      while (dy < 2) {
        var dx = 0
        while (dx < 2) {
          val (r, g, b) = rgbAt(cx * 2 + dx, cy * 2 + dy)
          sum += (if (cb) jpegRgbToCb(r, g, b) else jpegRgbToCr(r, g, b))
          dx += 1
        }
        dy += 1
      }
      (sum + 2) / 4
    }
    val enc = new JpegEncoder(width, height, 3,
      Array(0x22, 0x11, 0x11)) // Y at 2x2, chroma 1x1
    val mcusX = (width + 15) / 16
    val mcusY = (height + 15) / 16
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        var vb = 0
        while (vb < 2) {
          var hb = 0
          while (hb < 2) {
            enc.emitBlock(0, yAt, mx * 16 + hb * 8, my * 16 + vb * 8)
            hb += 1
          }
          vb += 1
        }
        enc.emitBlock(1, chromaAt(_, _, cb = true), mx * 8, my * 8)
        enc.emitBlock(2, chromaAt(_, _, cb = false), mx * 8, my * 8)
        mx += 1
      }
      my += 1
    }
    enc.finish()
  }

  /** Write a PROGRESSIVE (SOF2) JFIF file at 4:4:4 — same pixel contract,
    * quant tables, and Annex-K Huffman tables as [[encodeJpeg]], so the
    * decoded image is BIT-IDENTICAL to the baseline encoding of the same
    * pixels (the coefficients are identical; only their transmission
    * order differs). Scan script exercises every Annex-G scan type the
    * decoder supports from first principles: an interleaved DC-first
    * scan at Al=1, per-component spectral-selection AC scans (luma split
    * 1-5 / 6-63, chroma full-band) at Al=0, and a DC refinement scan
    * restoring the dropped DC bit. (AC successive approximation — EOBn
    * runs and correction bits — is exercised in tests via ImageIO's
    * progressive WRITER, whose IJG default script uses it.) */
  def encodeJpegProgressive(width: Int, height: Int,
                            pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0, s"need positive dims, got $width x $height")
    val bxN = (width + 7) / 8
    val byN = (height + 7) / 8
    val nB = bxN * byN
    // quantized zigzag coefficients for every block of every component
    val zz = Array.ofDim[Int](3, nB, 64)
    val block = new Array[Double](64)
    var b = 0
    while (b < nB) {
      val bx = b % bxN; val by = b / bxN
      var c = 0
      while (c < 3) {
        var i = 0
        while (i < 64) {
          val sx = math.min(bx * 8 + i % 8, width - 1)
          val sy = math.min(by * 8 + i / 8, height - 1)
          val (r, g, bl) = rgbMod256(pixel)(sx, sy)
          block(i) = (c match {
            case 0 => jpegRgbToY(r, g, bl)
            case 1 => jpegRgbToCb(r, g, bl)
            case _ => jpegRgbToCr(r, g, bl)
          }) - 128.0
          i += 1
        }
        jpegQuantizedZigzag(block, zz(c)(b))
        c += 1
      }
      b += 1
    }
    val out = new JfifOut
    jpegWriteJfifPrologue(out, width, height, 3, Array.fill(3)(0x11), 0xc2)
    // scan 1: DC first, interleaved, Al=1 (point-transformed diffs)
    out.sos(Seq(0, 1, 2), 0, 0, 0, 1)
    locally {
      val bw = new JpegBitWriter(out)
      val pred = new Array[Int](3)
      var blk = 0
      while (blk < nB) {
        var c = 0
        while (c < 3) {
          val v = zz(c)(blk)(0) >> 1 // DC point transform: arithmetic shift
          jpegPutDc(bw, v - pred(c), if (c == 0) jpegDcLumaCodes else jpegDcChromaCodes)
          pred(c) = v
          c += 1
        }
        blk += 1
      }
      bw.flush()
    }
    // AC spectral-selection scans, Al=0 (exact coefficients)
    def acScan(c: Int, ss: Int, se: Int): Unit = {
      out.sos(Seq(c), ss, se, 0, 0)
      val bw = new JpegBitWriter(out)
      val ac = if (c == 0) jpegAcLumaCodes else jpegAcChromaCodes
      var blk = 0
      while (blk < nB) { jpegPutAc(bw, zz(c)(blk), ss, se, ac); blk += 1 }
      bw.flush()
    }
    acScan(0, 1, 5)
    acScan(1, 1, 63)
    acScan(2, 1, 63)
    acScan(0, 6, 63)
    // DC refinement: the Al=1 bit, raw (no Huffman), interleaved
    out.sos(Seq(0, 1, 2), 0, 0, 1, 0)
    locally {
      val bw = new JpegBitWriter(out)
      var blk = 0
      while (blk < nB) {
        var c = 0
        while (c < 3) { bw.put(zz(c)(blk)(0) & 1, 1); c += 1 }
        blk += 1
      }
      bw.flush()
    }
    out.marker(0xd9) // EOI
    out.toByteArray
  }

  /** Canonical Huffman decode table: maxLen-bit index -> (symbol, len).
    * Built per DHT; lookup peeks 16 bits and consumes `len`. */
  private final class JpegHuffTable(bits: Array[Int], vals: Array[Int]) {
    // (firstCode(len), firstIndex(len)) per length, canonical order
    private val firstCode = new Array[Int](17)
    private val firstVal = new Array[Int](17)
    private val count = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      for (len <- 1 to 16) {
        count(len) = bits(len - 1)
        firstCode(len) = code
        firstVal(len) = k
        code = (code + bits(len - 1)) << 1
        k += bits(len - 1)
      }
    }
    /** Decode one symbol from the reader; -1 on malformed input. */
    def decode(in: JpegBitReader): Int = {
      var code = 0
      var len = 0
      while (len < 16) {
        val b = in.bit()
        if (b < 0) return -1
        code = (code << 1) | b
        len += 1
        if (count(len) > 0 && code - firstCode(len) < count(len))
          return vals(firstVal(len) + (code - firstCode(len)))
      }
      -1
    }
  }

  /** Entropy-segment bit reader: unstuffs 0xFF00, stops at any other
    * marker (pos then points AT the 0xFF). */
  private final class JpegBitReader(data: Array[Byte], var pos: Int) {
    private var acc = 0; private var nBits = 0
    var atMarker = false
    def bit(): Int = {
      if (nBits == 0) {
        if (pos >= data.length) return -1
        var b = data(pos) & 0xff
        if (b == 0xff) {
          if (pos + 1 >= data.length) { atMarker = true; return -1 }
          val nxt = data(pos + 1) & 0xff
          if (nxt == 0x00) { pos += 2; b = 0xff }
          else { atMarker = true; return -1 }
        } else pos += 1
        acc = b; nBits = 8
      }
      nBits -= 1
      (acc >> nBits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { val b = bit(); if (b < 0) return Int.MinValue; v = (v << 1) | b; i += 1 }
      v
    }
    def align(): Unit = { nBits = 0 }
  }

  private def jpegExtend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Decode a JFIF payload — baseline (SOF0) or progressive (SOF2) — to
    * full row-major packed RGB (0xRRGGBB ints). None for anything
    * outside the supported subset (wrong magic, extended/lossless/
    * arithmetic coding, subsampled progressive chroma beyond the shared
    * 1-2 luma factors, 16-bit quant tables, truncated or malformed
    * streams). Progressive decodes the full T.81 Annex G Huffman
    * procedure: DC first + DC refinement, AC first with EOB runs, AC
    * refinement with correction bits, interleaved and non-interleaved
    * scans, DHT/DRI between scans, RSTn inside scans. */
  private[graft] def decodeJpegRgb(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (payload.length < 4 || (payload(0) & 0xff) != 0xff ||
      (payload(1) & 0xff) != 0xd8) return None
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuffTable](4)
    val acTabs = new Array[JpegHuffTable](4)
    var width = 0; var height = 0; var nComp = 0
    val compQ = new Array[Int](3); val compDc = new Array[Int](3)
    val compAc = new Array[Int](3)
    val compH = new Array[Int](3); val compV = new Array[Int](3)
    val compId = new Array[Int](3)
    var restartInterval = 0
    var pos = 2
    def u16(at: Int): Int = ((payload(at) & 0xff) << 8) | (payload(at + 1) & 0xff)
    var sofSeen = false
    var progressive = false
    // progressive coefficient state (allocated at the first SOS):
    // per-component ZIGZAG-order coefficients, 64 per block, over the
    // MCU-padded block grid; scans accumulate into these and the image
    // reconstructs once at EOI
    var coefs: Array[Array[Int]] = null
    var blocksWpad: Array[Int] = null; var blocksHpad: Array[Int] = null
    var nbW: Array[Int] = null; var nbH: Array[Int] = null
    var mcusX = 0; var mcusY = 0; var hMax = 0; var vMax = 0
    var scansSeen = 0
    var scanEnd = -1 // set by a progressive SOS: resume AFTER entropy data
    while (pos + 2 <= payload.length) {
      if ((payload(pos) & 0xff) != 0xff) return None
      val m = payload(pos + 1) & 0xff
      if (m == 0xd9) { // EOI: progressive completion point; premature otherwise
        return if (progressive && scansSeen > 0)
          jpegFinishProgressive(width, height, nComp, coefs, quant, compQ,
            blocksWpad, blocksHpad, compH, compV, hMax, vMax)
        else None
      }
      if (pos + 4 > payload.length) return None
      val len = u16(pos + 2)
      if (len < 2 || pos + 2 + len > payload.length) return None
      val seg = pos + 4
      val segEnd = pos + 2 + len
      m match {
        case 0xdb => // DQT: one or more tables
          var p = seg
          while (p < segEnd) {
            val pq = (payload(p) & 0xff) >> 4
            val tq = payload(p) & 0x0f
            if (pq != 0 || tq > 3 || p + 65 > segEnd) return None // 8-bit only
            val t = new Array[Int](64)
            for (k <- 0 until 64) t(jpegZigzag(k)) = payload(p + 1 + k) & 0xff
            quant(tq) = t
            p += 65
          }
        case 0xc4 => // DHT: one or more tables
          var p = seg
          while (p < segEnd) {
            if (p + 17 > segEnd) return None
            val cls = (payload(p) & 0xff) >> 4
            val id = payload(p) & 0x0f
            if (cls > 1 || id > 3) return None
            val bits = Array.tabulate(16)(i => payload(p + 1 + i) & 0xff)
            val n = bits.sum
            if (p + 17 + n > segEnd) return None
            val vals = Array.tabulate(n)(i => payload(p + 17 + i) & 0xff)
            val tab = new JpegHuffTable(bits, vals)
            if (cls == 0) dcTabs(id) = tab else acTabs(id) = tab
            p += 17 + n
          }
        case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
          if (sofSeen || len < 8) return None
          sofSeen = true
          progressive = m == 0xc2
          if ((payload(seg) & 0xff) != 8) return None
          height = u16(seg + 1); width = u16(seg + 3)
          nComp = payload(seg + 5) & 0xff
          if (width <= 0 || height <= 0) return None
          // allocation guard (the PNG stride-guard discipline): a
          // ~150-byte payload can declare 65535x65535 — plane and RGB
          // buffer sizes would wrap Int (NegativeArraySizeException
          // inside mapPartitions kills the task) or force multi-GB
          // allocations before any entropy data is validated (the r12
          // 2^26 cap still allowed ~0.5-1 GB per crafted record). The
          // caps are explicit engineering constants sized for many
          // concurrent decode tasks per executor, per decode shape:
          // BASELINE holds byte planes + packed RGB (~7 bytes/px), so
          // 2^25 px (33.5 Mpx — covers a 20 Mpx DSLR frame) tops out
          // near ~235 MB transient; PROGRESSIVE must also hold the
          // accumulated Int coefficients (~4 bytes/px/component), so it
          // caps at 2^24 px (16.7 Mpx) for a similar ~320 MB high-water
          // (coefs freed per component at finish). The entropy-length
          // plausibility floors at SOS reject tiny crafted payloads
          // before ANY buffer is allocated.
          if (width.toLong * height > (1L << (if (progressive) 24 else 25)))
            return None
          if (nComp != 1 && nComp != 3) return None
          if (len != 8 + 3 * nComp) return None
          for (c <- 0 until nComp) {
            val hv = payload(seg + 7 + 3 * c) & 0xff
            compH(c) = hv >> 4; compV(c) = hv & 0x0f
            // luma may subsample the chroma (4:4:4 / 4:2:2 / 4:4:0 /
            // 4:2:0 — the web's dominant flavors); chroma itself and
            // grayscale stay 1x1
            if (compH(c) < 1 || compH(c) > 2 || compV(c) < 1 || compV(c) > 2)
              return None
            if (c > 0 && hv != 0x11) return None
            compId(c) = payload(seg + 6 + 3 * c) & 0xff
            compQ(c) = payload(seg + 8 + 3 * c) & 0xff
            if (compQ(c) > 3) return None
          }
          if (nComp == 1 && (compH(0) != 1 || compV(0) != 1)) return None
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
             0xcb | 0xcd | 0xce | 0xcf =>
          return None // extended/lossless/arithmetic
        case 0xdd => // DRI
          if (len != 4) return None
          restartInterval = u16(seg)
        case 0xda if !progressive => // baseline SOS: decode and return
          if (!sofSeen) return None
          val ns = payload(seg) & 0xff
          if (ns != nComp || len != 6 + 2 * ns) return None
          for (c <- 0 until ns) {
            val tabs = payload(seg + 2 + 2 * c) & 0xff
            compDc(c) = tabs >> 4; compAc(c) = tabs & 0x0f
            if (compDc(c) > 3 || compAc(c) > 3) return None
          }
          for (c <- 0 until nComp)
            if (quant(compQ(c)) == null || dcTabs(compDc(c)) == null ||
              acTabs(compAc(c)) == null) return None
          // entropy-length plausibility (r12 ADVICE): every coded block
          // costs AT LEAST 2 bits (a 1-bit DC code + a 1-bit AC EOB —
          // the degenerate-table floor), so a payload with fewer than
          // nBlocks/4 bytes after SOS cannot encode the declared
          // geometry. Rejects a ~200-byte payload declaring 4096x4096
          // (which needs >=196 KB) BEFORE the planes are allocated.
          val bHMax = compH.take(nComp).max
          val bVMax = compV.take(nComp).max
          val bMcusX = (width + 8 * bHMax - 1) / (8 * bHMax)
          val bMcusY = (height + 8 * bVMax - 1) / (8 * bVMax)
          val blocksPerMcu = (0 until nComp).map(c => compH(c) * compV(c)).sum
          val minEntropyBytes = bMcusX.toLong * bMcusY * blocksPerMcu * 2 / 8
          if ((payload.length - segEnd).toLong < minEntropyBytes) return None
          return jpegDecodeScan(payload, segEnd, width, height, nComp,
            Array.tabulate(nComp)(c => quant(compQ(c))),
            Array.tabulate(nComp)(c => dcTabs(compDc(c))),
            Array.tabulate(nComp)(c => acTabs(compAc(c))),
            compH.take(nComp), compV.take(nComp), restartInterval)
        case 0xda => // progressive SOS: fold this scan into coefs, continue
          if (!sofSeen) return None
          val ns = payload(seg) & 0xff
          if (ns < 1 || ns > nComp || len != 6 + 2 * ns) return None
          val scanComp = new Array[Int](ns)
          for (i <- 0 until ns) {
            val cs = payload(seg + 1 + 2 * i) & 0xff
            var ci = -1
            var c = 0
            while (c < nComp) { if (compId(c) == cs) ci = c; c += 1 }
            if (ci < 0) return None
            scanComp(i) = ci
            val tabs = payload(seg + 2 + 2 * i) & 0xff
            compDc(ci) = tabs >> 4; compAc(ci) = tabs & 0x0f
            if (compDc(ci) > 3 || compAc(ci) > 3) return None
          }
          val ss = payload(seg + 1 + 2 * ns) & 0xff
          val se = payload(seg + 2 + 2 * ns) & 0xff
          val ahal = payload(seg + 3 + 2 * ns) & 0xff
          val ah = ahal >> 4; val al = ahal & 0x0f
          // scan-header validity (T.81 Annex G): a DC scan has Ss=Se=0
          // and may interleave; an AC scan covers ONE component with
          // 1 <= Ss <= Se <= 63; refinement lowers Al by exactly one
          if (ss == 0 && se != 0) return None
          if (ss > 0 && (se < ss || se > 63 || ns != 1)) return None
          if (al > 13 || (ah != 0 && ah != al + 1)) return None
          if (coefs == null) {
            // first scan must carry DC (G.1.1.1.1) — also where the
            // coefficient state is sized
            if (ss != 0 || ah != 0) return None
            hMax = compH.take(nComp).max
            vMax = compV.take(nComp).max
            mcusX = (width + 8 * hMax - 1) / (8 * hMax)
            mcusY = (height + 8 * vMax - 1) / (8 * vMax)
            blocksWpad = Array.tabulate(nComp)(c => mcusX * compH(c))
            blocksHpad = Array.tabulate(nComp)(c => mcusY * compV(c))
            nbW = Array.tabulate(nComp)(c =>
              ((width * compH(c) + hMax - 1) / hMax + 7) / 8)
            nbH = Array.tabulate(nComp)(c =>
              ((height * compV(c) + vMax - 1) / vMax + 7) / 8)
            // plausibility floor for the allocation (the progressive
            // analogue of the baseline 2-bit rule), sized against the
            // WHOLE image, not just this scan: the coefficient state is
            // allocated for every component at once, and any stream
            // that eventually codes the image spends >= 1 bit per block
            // per component on DC scans alone (AC scans may be tiny EOB
            // runs, DC scans cannot) — so requiring the REMAINING
            // payload to carry totalBlocks/8 bytes bounds the
            // allocation amplification no matter how the scan script
            // slices components (a single-component first scan cannot
            // sneak a 3-component allocation past a per-scan floor).
            val totalBlocks = (0 until nComp).map(c =>
              mcusX.toLong * mcusY * compH(c) * compV(c)).sum
            if ((payload.length - segEnd).toLong < totalBlocks / 8) return None
            coefs = Array.tabulate(nComp)(c =>
              new Array[Int](blocksWpad(c) * blocksHpad(c) * 64))
          }
          if (ss == 0 && ah == 0)
            for (i <- 0 until ns)
              if (dcTabs(compDc(scanComp(i))) == null) return None
          // AC scans (first AND refinement) decode Huffman symbols; DC
          // refinement reads raw bits only
          if (ss > 0 && acTabs(compAc(scanComp(0))) == null) return None
          jpegProgressiveScan(payload, segEnd, scanComp, ss, se, ah, al,
            coefs,
            Array.tabulate(ns)(i => dcTabs(compDc(scanComp(i)))),
            if (ss > 0) acTabs(compAc(scanComp(0))) else null,
            blocksWpad, nbW, nbH, mcusX, mcusY, compH, compV,
            restartInterval) match {
            case Some(p) => scansSeen += 1; scanEnd = p
            case None => return None
          }
        case _ => // APPn / COM / others: skip
      }
      pos = if (scanEnd >= 0) { val p = scanEnd; scanEnd = -1; p } else segEnd
    }
    None
  }

  private def jpegDecodeScan(payload: Array[Byte], start: Int, width: Int,
                             height: Int, nComp: Int,
                             quant: Array[Array[Int]],
                             dcTabs: Array[JpegHuffTable],
                             acTabs: Array[JpegHuffTable],
                             compH: Array[Int], compV: Array[Int],
                             restartInterval: Int): Option[(Int, Int, Array[Int])] = {
    val hMax = compH.max; val vMax = compV.max
    val mcuW = 8 * hMax; val mcuH = 8 * vMax
    val mcusX = (width + mcuW - 1) / mcuW
    val mcusY = (height + mcuH - 1) / mcuH
    // per-component planes at that component's sampled (padded) size
    val planeW = Array.tabulate(nComp)(c => mcusX * compH(c) * 8)
    val planeH = Array.tabulate(nComp)(c => mcusY * compV(c) * 8)
    // BYTE planes (clamped 0-255): at the pixel caps below the decode's
    // transient footprint is plane-dominated — Int planes would 4x it
    val planes = Array.tabulate(nComp)(c => new Array[Byte](planeW(c) * planeH(c)))
    val in = new JpegBitReader(payload, start)
    val dcPred = new Array[Int](nComp)
    val coef = new Array[Int](64)
    var mcu = 0
    val nMcu = mcusX * mcusY
    while (mcu < nMcu) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        // expect RSTn: align, consume the marker, reset predictors
        in.align()
        if (in.pos + 2 > payload.length ||
          (payload(in.pos) & 0xff) != 0xff ||
          (payload(in.pos + 1) & 0xf8) != 0xd0) return None
        in.pos += 2
        in.atMarker = false
        java.util.Arrays.fill(dcPred, 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var c = 0
      while (c < nComp) {
        var vb = 0
        while (vb < compV(c)) {
          var hb = 0
          while (hb < compH(c)) {
            java.util.Arrays.fill(coef, 0)
            val s = dcTabs(c).decode(in)
            if (s < 0 || s > 11) return None
            val dv = if (s == 0) 0 else in.receive(s)
            if (dv == Int.MinValue) return None
            dcPred(c) += jpegExtend(dv, s)
            // a conformant 8-bit baseline stream keeps |quantized DC| <=
            // ~2047; a crafted stream of max positive diffs would walk
            // dcPred into Int-overflowing dequant products and surface
            // garbage sums as a SUCCESSFUL decode — reject instead
            if (dcPred(c) < -(1 << 14) || dcPred(c) > (1 << 14)) return None
            coef(0) = dcPred(c) * quant(c)(0)
            var k = 1
            while (k < 64) {
              val rs = acTabs(c).decode(in)
              if (rs < 0) return None
              val run = rs >> 4
              val size = rs & 0x0f
              if (size == 0) {
                if (run == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += run
                if (k > 63) return None
                val av = in.receive(size)
                if (av == Int.MinValue) return None
                val nat = jpegZigzag(k)
                coef(nat) = jpegExtend(av, size) * quant(c)(nat)
                k += 1
              }
            }
            val px = jpegIdct(coef)
            val ox = (mx * compH(c) + hb) * 8
            val oy = (my * compV(c) + vb) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                val v = math.round(px(yy * 8 + xx)).toInt + 128
                planes(c)((oy + yy) * planeW(c) + ox + xx) = jpegClamp(v).toByte
                xx += 1
              }
              yy += 1
            }
            hb += 1
          }
          vb += 1
        }
        c += 1
      }
      mcu += 1
    }
    jpegComposeRgb(width, height, nComp, planes, planeW, compH, compV,
      hMax, vMax)
  }

  /** Crop + upsample (sample replication: chroma sample (x·h_c/hMax,
    * y·v_c/vMax)) + fixed-point color conversion — shared by the
    * baseline single-scan path and the progressive finish. */
  private def jpegComposeRgb(width: Int, height: Int, nComp: Int,
                             planes: Array[Array[Byte]], planeW: Array[Int],
                             compH: Array[Int], compV: Array[Int],
                             hMax: Int, vMax: Int): Option[(Int, Int, Array[Int])] = {
    val rgb = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        rgb(y * width + x) =
          if (nComp == 1) { val v = planes(0)(y * planeW(0) + x); packRgb(v, v, v) }
          else {
            val yv = planes(0)(y * planeW(0) + x) & 0xff
            val cbx = x * compH(1) / hMax; val cby = y * compV(1) / vMax
            val crx = x * compH(2) / hMax; val cry = y * compV(2) / vMax
            val cb = planes(1)(cby * planeW(1) + cbx) & 0xff
            val cr = planes(2)(cry * planeW(2) + crx) & 0xff
            packRgb(jpegYccToR(yv, cr), jpegYccToG(yv, cb, cr), jpegYccToB(yv, cb))
          }
        x += 1
      }
      y += 1
    }
    Some((width, height, rgb))
  }

  /** Decode ONE progressive scan's entropy segment into the zigzag-order
    * coefficient state (T.81 Annex G.2; bit-level procedures match
    * libjpeg's jdphuff semantics, the de-facto conformance reference):
    *   - DC first (Ss=0, Ah=0): baseline DC diff coding, value << Al.
    *   - DC refinement (Ah>0): one raw bit per block, OR'd at bit Al
    *     (two's complement makes the OR correct for negatives).
    *   - AC first (Ss>0, Ah=0): (run,size) coding over [Ss,Se] with EOBn
    *     run codes (size=0, run<15 → EOB run of 2^run + ext bits blocks).
    *   - AC refinement: correction bits for nonzero-history coefficients,
    *     ±(1<<Al) insertions for newly nonzero ones, EOB-run tail logic.
    * DC scans may interleave components in MCU order; AC scans cover one
    * component's own (non-padded) block grid row-major. RSTn resets DC
    * predictors AND the EOB run. Returns the payload offset of the next
    * marker after the scan, or None on any malformed construct. */
  private def jpegProgressiveScan(payload: Array[Byte], start: Int,
                                  scanComp: Array[Int], ss: Int, se: Int,
                                  ah: Int, al: Int,
                                  coefs: Array[Array[Int]],
                                  dcT: Array[JpegHuffTable],
                                  acT: JpegHuffTable,
                                  blocksWpad: Array[Int],
                                  nbW: Array[Int], nbH: Array[Int],
                                  mcusX: Int, mcusY: Int,
                                  compH: Array[Int], compV: Array[Int],
                                  restartInterval: Int): Option[Int] = {
    val in = new JpegBitReader(payload, start)
    val dcPred = new Array[Int](scanComp.length)
    var eobrun = 0
    val p1 = 1 << al
    val m1 = -1 << al

    def restart(unit: Int): Boolean = {
      if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
        in.align()
        if (in.pos + 2 > payload.length ||
          (payload(in.pos) & 0xff) != 0xff ||
          (payload(in.pos + 1) & 0xf8) != 0xd0) return false
        in.pos += 2
        in.atMarker = false
        java.util.Arrays.fill(dcPred, 0)
        eobrun = 0
      }
      true
    }

    def dcFirst(ci: Int, si: Int, off: Int): Boolean = {
      val s = dcT(si).decode(in)
      if (s < 0 || s > 11) return false
      val dv = if (s == 0) 0 else in.receive(s)
      if (dv == Int.MinValue) return false
      dcPred(si) += jpegExtend(dv, s)
      if (dcPred(si) < -(1 << 14) || dcPred(si) > (1 << 14)) return false
      val v = dcPred(si) << al // |dcPred| <= 2^14, al <= 13: no Int wrap
      if (v < -(1 << 14) || v > (1 << 14)) return false // dequant stays small
      coefs(ci)(off) = v
      true
    }
    def dcRefine(ci: Int, off: Int): Boolean = {
      val b = in.bit()
      if (b < 0) return false
      if (b == 1) coefs(ci)(off) |= p1
      true
    }
    def acFirst(ci: Int, off: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      val cz = coefs(ci)
      var k = ss
      while (k <= se) {
        val rs = acT.decode(in)
        if (rs < 0) return false
        val r = rs >> 4; val s = rs & 15
        if (s == 0) {
          if (r < 15) { // EOBn: run of 2^r (+ext) blocks incl. this one
            eobrun = (1 << r) - 1
            if (r > 0) {
              val eb = in.receive(r)
              if (eb == Int.MinValue) return false
              eobrun += eb
            }
            return true
          }
          k += 16 // ZRL
        } else {
          if (s > 10) return false // 8-bit precision AC magnitude cap
          k += r
          if (k > se) return false
          val av = in.receive(s)
          if (av == Int.MinValue) return false
          val v = jpegExtend(av, s) << al // |ext| < 2^10, al <= 13: no wrap
          // conformant 8-bit coefficients stay near 2^10; the cap keeps a
          // crafted (s, Al) pair from overflowing the dequant product
          if (v < -(1 << 14) || v > (1 << 14)) return false
          cz(off + k) = v
          k += 1
        }
      }
      true
    }
    def acRefine(ci: Int, off: Int): Boolean = {
      val cz = coefs(ci)
      var k = ss
      def correct(idx: Int): Boolean = {
        val b = in.bit()
        if (b < 0) return false
        if (b == 1 && (cz(idx) & p1) == 0)
          cz(idx) += (if (cz(idx) >= 0) p1 else m1)
        true
      }
      if (eobrun == 0) {
        var atEob = false
        while (k <= se && !atEob) {
          val rs = acT.decode(in)
          if (rs < 0) return false
          var r = rs >> 4; val s = rs & 15
          var newVal = 0
          if (s != 0) {
            if (s != 1) return false // refinement inserts ±1 only
            val b = in.bit()
            if (b < 0) return false
            newVal = if (b == 1) p1 else m1
          } else if (r != 15) { // EOBn; rest of block via the tail below
            eobrun = 1 << r
            if (r > 0) {
              val eb = in.receive(r)
              if (eb == Int.MinValue) return false
              eobrun += eb
            }
            atEob = true
          } // else ZRL: skip 16 zero-history positions, corrections en route
          if (!atEob) {
            var placed = false
            var scanning = true
            while (k <= se && scanning) {
              if (cz(off + k) != 0) {
                if (!correct(off + k)) return false
                k += 1
              } else if (r == 0) { scanning = false; placed = true }
              else { r -= 1; k += 1 }
            }
            if (placed) {
              if (newVal != 0) cz(off + k) = newVal
              k += 1
            } else if (newVal != 0) return false // no spot inside [Ss,Se]
          }
        }
      }
      if (eobrun > 0) { // EOB-run tail: corrections through the block end
        while (k <= se) {
          if (cz(off + k) != 0 && !correct(off + k)) return false
          k += 1
        }
        eobrun -= 1
      }
      true
    }

    if (scanComp.length > 1) { // interleaved DC scan, MCU order
      var mcu = 0
      val nMcu = mcusX * mcusY
      while (mcu < nMcu) {
        if (!restart(mcu)) return None
        val mx = mcu % mcusX; val my = mcu / mcusX
        var i = 0
        while (i < scanComp.length) {
          val ci = scanComp(i)
          var vb = 0
          while (vb < compV(ci)) {
            var hb = 0
            while (hb < compH(ci)) {
              val off = ((my * compV(ci) + vb) * blocksWpad(ci) +
                mx * compH(ci) + hb) * 64
              val ok = if (ah == 0) dcFirst(ci, i, off) else dcRefine(ci, off)
              if (!ok) return None
              hb += 1
            }
            vb += 1
          }
          i += 1
        }
        mcu += 1
      }
    } else { // single component: its own block grid, row-major
      val ci = scanComp(0)
      val w = nbW(ci)
      var b = 0
      val nB = w * nbH(ci)
      while (b < nB) {
        if (!restart(b)) return None
        val off = ((b / w) * blocksWpad(ci) + b % w) * 64
        val ok =
          if (ss == 0) { if (ah == 0) dcFirst(ci, 0, off) else dcRefine(ci, off) }
          else { if (ah == 0) acFirst(ci, off) else acRefine(ci, off) }
        if (!ok) return None
        b += 1
      }
    }
    // advance to the next marker: skip pad bits, 0xFF00 stuffing, stray
    // RSTn, and 0xFF fill bytes
    var p = in.pos
    while (p + 1 < payload.length && !((payload(p) & 0xff) == 0xff &&
      (payload(p + 1) & 0xff) != 0x00 && (payload(p + 1) & 0xff) != 0xff &&
      (payload(p + 1) & 0xf8) != 0xd0)) p += 1
    if (p + 1 >= payload.length) None else Some(p)
  }

  /** Progressive completion at EOI: dequantize the accumulated zigzag
    * coefficients, inverse-DCT every (padded-grid) block, then the shared
    * crop/upsample/color tail. */
  private def jpegFinishProgressive(width: Int, height: Int, nComp: Int,
                                    coefs: Array[Array[Int]],
                                    quant: Array[Array[Int]],
                                    compQ: Array[Int],
                                    blocksWpad: Array[Int],
                                    blocksHpad: Array[Int],
                                    compH: Array[Int], compV: Array[Int],
                                    hMax: Int, vMax: Int): Option[(Int, Int, Array[Int])] = {
    var c = 0
    while (c < nComp) {
      if (quant(compQ(c)) == null) return None
      c += 1
    }
    val planeW = Array.tabulate(nComp)(c => blocksWpad(c) * 8)
    val planes = Array.tabulate(nComp)(c =>
      new Array[Byte](planeW(c) * blocksHpad(c) * 8))
    val nat = new Array[Int](64)
    c = 0
    while (c < nComp) {
      val q = quant(compQ(c))
      val cz = coefs(c)
      val bw = blocksWpad(c)
      var b = 0
      val nB = bw * blocksHpad(c)
      while (b < nB) {
        val off = b * 64
        java.util.Arrays.fill(nat, 0)
        var k = 0
        while (k < 64) {
          val v = cz(off + k)
          if (v != 0) { val n = jpegZigzag(k); nat(n) = v * q(n) }
          k += 1
        }
        val px = jpegIdct(nat)
        val ox = (b % bw) * 8; val oy = (b / bw) * 8
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            planes(c)((oy + yy) * planeW(c) + ox + xx) =
              jpegClamp(math.round(px(yy * 8 + xx)).toInt + 128).toByte
            xx += 1
          }
          yy += 1
        }
        b += 1
      }
      coefs(c) = null // free each component's coefficients as it lands:
      // the transient high-water is then planes + ONE coef array + rgb
      c += 1
    }
    jpegComposeRgb(width, height, nComp, planes, planeW, compH, compV,
      hMax, vMax)
  }
}
