package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines: media payloads are
  * opaque `binary` columns travelling next to typed metadata; decode /
  * feature-extraction runs batched per partition.
  *
  * Codec reality ladder: [[MediaCodec]] is a REAL pure-JVM PNG/JPEG
  * header parser; [[PixelCodec]] is a REAL pure-JVM full PNG pixel
  * codec (zlib inflate/deflate via the JDK, all five scanline filters,
  * nearest-neighbor resample); [[WavCodec]] is a REAL pure-JVM
  * WAV/PCM audio codec (RIFF chunk walk, 16-bit + G.711 µ-law/A-law
  * decode, integer resample, re-encode); [[graft.operators.GifCodec]]
  * is a REAL GIF codec whose LZW dictionary coder is implemented in
  * this repo (d38, cross-validated against ImageIO);
  * [[graft.operators.JpegCodec]] decodes JPEG pixels for REAL through
  * the JDK's own baseline-DCT plugin (d39, banded gate). All three
  * major image formats and PCM/G.711 audio decode, transform, and
  * re-encode genuinely. Only video containers and lossy-compressed
  * audio (MP3/AAC — codecs the JVM lacks) stay behind [[FakeCodec]],
  * a deterministic stand-in with the same shape: swap
  * `FakeCodec.decode` for a JNI/FFI decoder and nothing else changes.
  *
  * Scale notes: payloads stay off the shuffle path (feature extraction
  * is map-side); `repartitionForPayloads` sizes partitions by byte
  * budget, not row count, so a 100 TB corpus of skewed media sizes
  * still yields bounded-memory tasks.
  */
object Multimodal {

  /** STUB decoder: a real build would call an image/audio codec here
    * (the `???`-equivalent is the deterministic fake below, so the
    * pipeline is testable end-to-end). */
  object FakeCodec {
    /** "Decodes" a payload into a fixed-length feature vector: byte
      * histogram moments — deterministic, shape-compatible with a real
      * embedding head. */
    def decode(payload: Array[Byte], dim: Int = 8): Array[Double] = {
      val out = new Array[Double](dim)
      var i = 0
      while (i < payload.length) {
        out(i % dim) += (payload(i) & 0xff) / 255.0
        i += 1
      }
      if (payload.length > 0) {
        var j = 0
        while (j < dim) { out(j) /= math.max(1, payload.length / dim); j += 1 }
      }
      out
    }

    /** STUB frame sampler: returns `n` evenly spaced frame offsets. */
    def sampleFrames(nFrames: Int, n: Int): Array[Int] =
      if (nFrames <= 0 || n <= 0) Array.empty
      else Array.tabulate(math.min(n, nFrames))(i => i * nFrames / math.min(n, nFrames))
  }

  /** REAL pure-JVM media header codec (no native deps): PNG and JPEG
    * are public byte formats whose dimensions/channels live in fixed
    * header structures, so "decode the metadata" needs no image
    * library — only the pixel-level work (full decode, resample)
    * stays behind [[FakeCodec]].
    *
    * Parsing contract: [[parseHeader]] returns `None` for anything it
    * cannot positively identify (truncated buffer, bad signature,
    * missing SOF) rather than guessing — a corrupt payload in a 100 TB
    * crawl should surface as an unparsed row to route to quarantine,
    * not as fabricated dimensions.
    *
    * PNG (spec: 8-byte signature, then chunks; IHDR first): width and
    * height are big-endian u32 at IHDR offsets 0/4, channels derive
    * from the color type (0 gray→1, 2 rgb→3, 3 palette→1, 4
    * gray+alpha→2, 6 rgba→4). [[pngBytes]] emits a spec-correct
    * signature + IHDR (including the CRC32 over type+data that any
    * strict reader validates).
    *
    * JPEG (JFIF/EXIF container): segments of (0xFF, marker, u16 len)
    * follow SOI; dimensions live in the first SOFn segment
    * (0xC0–0xCF minus the non-frame C4/C8/CC): precision u8, height
    * u16, width u16, component count u8 (= channels). The parser
    * skips APPn/DQT/etc by their length fields and tolerates fill
    * bytes between segments, so real camera files parse too. */
  object MediaCodec {
    final case class Header(format: String, width: Int, height: Int,
      channels: Int)

    private val pngSig =
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

    private def be32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

    /** A spec-correct PNG prefix (signature + IHDR with CRC) carrying
      * `body` as trailing bytes — a header-honest fixture payload (the
      * body is not a valid IDAT stream; header parsers never read it). */
    def pngBytes(width: Int, height: Int, colorType: Int,
        body: Array[Byte]): Array[Byte] = {
      require(width > 0 && height > 0, s"png ${width}x$height")
      require(Set(0, 2, 3, 4, 6)(colorType), s"png colorType=$colorType")
      val ihdr = new Array[Byte](13)
      def put32(a: Array[Byte], i: Int, v: Long): Unit = {
        a(i) = ((v >>> 24) & 0xff).toByte; a(i + 1) = ((v >>> 16) & 0xff).toByte
        a(i + 2) = ((v >>> 8) & 0xff).toByte; a(i + 3) = (v & 0xff).toByte
      }
      put32(ihdr, 0, width.toLong); put32(ihdr, 4, height.toLong)
      ihdr(8) = 8 // bit depth
      ihdr(9) = colorType.toByte
      // compression / filter / interlace all 0 (the only legal values)
      val typ = "IHDR".getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(typ); crc.update(ihdr)
      val out = new java.io.ByteArrayOutputStream(33 + body.length)
      out.write(pngSig)
      val len = new Array[Byte](4); put32(len, 0, 13); out.write(len)
      out.write(typ); out.write(ihdr)
      val crcB = new Array[Byte](4); put32(crcB, 0, crc.getValue); out.write(crcB)
      out.write(body)
      out.toByteArray
    }

    /** A JFIF-correct JPEG prefix (SOI + APP0 + SOF0) carrying `body`
      * as trailing bytes. Length: 30 + 3×components before the body. */
    def jpegBytes(width: Int, height: Int, nComponents: Int,
        body: Array[Byte]): Array[Byte] = {
      require(width > 0 && width <= 0xffff && height > 0 && height <= 0xffff,
        s"jpeg ${width}x$height exceeds the format's u16 dimensions")
      require(nComponents == 1 || nComponents == 3, s"jpeg n=$nComponents")
      val out = new java.io.ByteArrayOutputStream(30 + 3 * nComponents + body.length)
      def b(v: Int): Unit = out.write(v & 0xff)
      b(0xff); b(0xd8) // SOI
      // APP0 JFIF v1.1, aspect 1:1, no thumbnail (len 16)
      b(0xff); b(0xe0); b(0); b(16)
      out.write("JFIF".getBytes("US-ASCII")); b(0)
      b(1); b(1); b(0); b(0); b(1); b(0); b(1); b(0); b(0)
      // SOF0: len = 8 + 3n, precision 8, height, width, components
      b(0xff); b(0xc0); b(0); b(8 + 3 * nComponents); b(8)
      b(height >> 8); b(height); b(width >> 8); b(width); b(nComponents)
      var c = 0
      while (c < nComponents) { b(c + 1); b(0x11); b(0); c += 1 }
      out.write(body)
      out.toByteArray
    }

    def parseHeader(payload: Array[Byte]): Option[Header] = {
      if (payload == null) None
      else if (payload.length >= 33 && pngSig.indices.forall(i => payload(i) == pngSig(i)))
        parsePng(payload)
      else if (payload.length >= 4 && (payload(0) & 0xff) == 0xff &&
          (payload(1) & 0xff) == 0xd8)
        parseJpeg(payload)
      else None
    }

    private def parsePng(p: Array[Byte]): Option[Header] = {
      // first chunk must be IHDR (spec); length field must say 13
      if (be32(p, 8) != 13L || p(12) != 'I' || p(13) != 'H' ||
          p(14) != 'D' || p(15) != 'R') return None
      val w = be32(p, 16); val h = be32(p, 20)
      if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) return None
      val channels = (p(25) & 0xff) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => return None
      }
      Some(Header("png", w.toInt, h.toInt, channels))
    }

    private def parseJpeg(p: Array[Byte]): Option[Header] = {
      var i = 2
      while (i + 3 < p.length) {
        if ((p(i) & 0xff) != 0xff) return None // lost segment sync
        var j = i
        while (j < p.length && (p(j) & 0xff) == 0xff) j += 1 // fill bytes
        if (j >= p.length) return None
        val marker = p(j) & 0xff
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          // SOFn: len(2) precision(1) height(2) width(2) ncomp(1)
          if (j + 8 >= p.length) return None
          val h = be16(p, j + 4); val w = be16(p, j + 6)
          val n = p(j + 8) & 0xff
          if (w <= 0 || h <= 0 || n == 0) return None
          return Some(Header("jpeg", w, h, n))
        } else if (marker == 0xd8) i = j + 1 // stray SOI
        else if (marker == 0xd9 || marker == 0xda) return None // EOI/SOS: no SOF seen
        else if (j + 2 >= p.length) return None
        else i = j + 1 + be16(p, j + 1) // skip segment by its length
      }
      None
    }
  }

  /** REAL pure-JVM PNG PIXEL codec (no native deps): full decode —
    * chunk walk → zlib inflate (JDK `Inflater`) → per-scanline
    * unfilter (all five PNG filter types: None/Sub/Up/Average/Paeth)
    * — plus the matching encoder and a nearest-neighbor resampler, so
    * decode → transform → re-encode is a genuine codec round trip,
    * not a stand-in. Scope: bit depth 8, color types 0/2/4/6
    * (gray/RGB/gray+alpha/RGBA), non-interlaced — the shapes a
    * training pipeline normalizes to anyway; palette (type 3) and
    * Adam7 return None (quarantine routing), never a guess.
    *
    * The encoder VARIES the filter type per scanline (y % 5), so any
    * image ≥5 rows exercises every unfilter branch on re-read — a
    * filter-math bug cannot hide behind an all-None encoder.
    *
    * Pixels are row-major, channel-interleaved ints in [0,255]. */
  object PixelCodec {
    final case class Image(width: Int, height: Int, channels: Int,
        pixels: Array[Int]) {
      require(pixels.length == width * height * channels,
        s"pixel buffer ${pixels.length} != $width*$height*$channels")
    }

    private val pngSig =
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

    private def be32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

    private def put32(a: Array[Byte], i: Int, v: Long): Unit = {
      a(i) = ((v >>> 24) & 0xff).toByte; a(i + 1) = ((v >>> 16) & 0xff).toByte
      a(i + 2) = ((v >>> 8) & 0xff).toByte; a(i + 3) = (v & 0xff).toByte
    }

    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    private def chunk(out: java.io.ByteArrayOutputStream, typ: String,
        data: Array[Byte]): Unit = {
      val len = new Array[Byte](4); put32(len, 0, data.length.toLong)
      out.write(len)
      val t = typ.getBytes("US-ASCII")
      out.write(t); out.write(data)
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      val c = new Array[Byte](4); put32(c, 0, crc.getValue); out.write(c)
    }

    /** Encode to a complete, spec-valid PNG (signature + IHDR + IDAT +
      * IEND, correct CRCs). Filter type rotates y % 5 per scanline. */
    def encodePng(img: Image): Array[Byte] = {
      val colorType = img.channels match {
        case 1 => 0; case 3 => 2; case 2 => 4; case 4 => 6
        case n => throw new IllegalArgumentException(s"channels=$n")
      }
      val bpp = img.channels
      val stride = img.width * bpp
      val raw = new Array[Byte]((stride + 1) * img.height)
      var y = 0
      while (y < img.height) {
        val ft = y % 5
        val base = y * (stride + 1)
        raw(base) = ft.toByte
        var x = 0
        while (x < stride) {
          val cur = img.pixels(y * stride + x)
          val a = if (x >= bpp) img.pixels(y * stride + x - bpp) else 0
          val b = if (y > 0) img.pixels((y - 1) * stride + x) else 0
          val c = if (y > 0 && x >= bpp) img.pixels((y - 1) * stride + x - bpp) else 0
          val filtered = ft match {
            case 0 => cur
            case 1 => cur - a
            case 2 => cur - b
            case 3 => cur - (a + b) / 2
            case 4 => cur - paeth(a, b, c)
          }
          raw(base + 1 + x) = (filtered & 0xff).toByte
          x += 1
        }
        y += 1
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val zout = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
      defl.end()
      val ihdr = new Array[Byte](13)
      put32(ihdr, 0, img.width.toLong); put32(ihdr, 4, img.height.toLong)
      ihdr(8) = 8; ihdr(9) = colorType.toByte // depth 8; comp/filter/interlace 0
      val out = new java.io.ByteArrayOutputStream(zout.size + 64)
      out.write(pngSig)
      chunk(out, "IHDR", ihdr)
      chunk(out, "IDAT", zout.toByteArray)
      chunk(out, "IEND", Array.emptyByteArray)
      out.toByteArray
    }

    /** Full pixel decode. None for: bad signature, palette/interlaced/
      * non-8-bit images, truncated or malformed chunk layout, a zlib
      * stream that is short/corrupt, or an unknown filter type. */
    def decodePng(p: Array[Byte]): Option[Image] = {
      if (p == null || p.length < 45 ||
        !pngSig.indices.forall(i => p(i) == pngSig(i))) return None
      var i = 8
      var w = 0; var h = 0; var channels = 0
      var seenIhdr = false; var seenIend = false
      val idat = new java.io.ByteArrayOutputStream()
      while (!seenIend && i + 8 <= p.length) {
        val len = be32(p, i)
        if (len < 0 || len > Int.MaxValue || i + 12 + len > p.length) return None
        val l = len.toInt
        new String(p, i + 4, 4, "US-ASCII") match {
          case "IHDR" =>
            if (l != 13) return None
            val ww = be32(p, i + 8); val hh = be32(p, i + 12)
            if (ww <= 0 || hh <= 0 || ww > (1L << 20) || hh > (1L << 20)) return None
            if ((p(i + 16) & 0xff) != 8) return None // bit depth
            // compression METHOD (i+18) and filter METHOD (i+19): 0 is
            // the only value the spec defines. A crafted header
            // declaring another method whose IDAT happens to inflate
            // would otherwise "decode" to garbage pixels — quarantine
            // as None, never a guess (same contract as depth/interlace)
            if ((p(i + 18) & 0xff) != 0) return None // compression method
            if ((p(i + 19) & 0xff) != 0) return None // filter method
            if ((p(i + 20) & 0xff) != 0) return None // interlace
            channels = (p(i + 17) & 0xff) match {
              case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
              case _ => return None // incl. palette
            }
            // total-size cap in LONG arithmetic: the per-axis guard
            // alone admits 2^20 x 2^20 whose Int buffer sizes overflow
            // ((stride+1)*h and w*h*channels wrap) — a crafted header
            // must quarantine as None, never throw from a wrapped
            // allocation. 2^26 px (64 MPx × ≤4ch = ≤1 GiB ints) is far
            // above any training-corpus image and far below overflow.
            if (ww * hh > (1L << 26)) return None
            w = ww.toInt; h = hh.toInt; seenIhdr = true
          case "IDAT" => if (!seenIhdr) return None else idat.write(p, i + 8, l)
          case "IEND" => seenIend = true
          case _ => () // ancillary chunk: skip
        }
        i += 12 + l
      }
      if (!seenIhdr || idat.size == 0) return None
      val stride = w * channels
      val raw = new Array[Byte]((stride + 1) * h)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      var off = 0
      try {
        while (off < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, off, raw.length - off)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
          off += n
        }
      } catch { case _: java.util.zip.DataFormatException => return None }
      finally inf.end()
      if (off != raw.length) return None
      val bpp = channels
      val pixels = new Array[Int](w * h * channels)
      var y = 0
      while (y < h) {
        val base = y * (stride + 1)
        val ft = raw(base) & 0xff
        if (ft > 4) return None
        var x = 0
        while (x < stride) {
          val rv = raw(base + 1 + x) & 0xff
          val a = if (x >= bpp) pixels(y * stride + x - bpp) else 0
          val b = if (y > 0) pixels((y - 1) * stride + x) else 0
          val c = if (y > 0 && x >= bpp) pixels((y - 1) * stride + x - bpp) else 0
          pixels(y * stride + x) = ft match {
            case 0 => rv
            case 1 => (rv + a) & 0xff
            case 2 => (rv + b) & 0xff
            case 3 => (rv + (a + b) / 2) & 0xff
            case 4 => (rv + paeth(a, b, c)) & 0xff
          }
          x += 1
        }
        y += 1
      }
      Some(Image(w, h, channels, pixels))
    }

    /** Nearest-neighbor resample: source index = floor(dst·src/dstDim)
      * — exact integer arithmetic, so an external engine can replay
      * which source pixel each destination pixel reads. */
    def resizeNearest(img: Image, dw: Int, dh: Int): Image = {
      require(dw > 0 && dh > 0, s"resize to ${dw}x$dh")
      require(dw.toLong * dh * img.channels <= Int.MaxValue,
        s"resize target ${dw}x$dh x${img.channels} exceeds buffer range")
      val out = new Array[Int](dw * dh * img.channels)
      var y = 0
      while (y < dh) {
        // Long products: y*height (and x*width) overflow Int for
        // large-but-decodable sources (e.g. dh=4096 against a 2^20-px
        // axis), which would index negative instead of resampling
        val sy = (y.toLong * img.height / dh).toInt
        var x = 0
        while (x < dw) {
          val sx = (x.toLong * img.width / dw).toInt
          var c = 0
          while (c < img.channels) {
            out((y * dw + x) * img.channels + c) =
              img.pixels((sy * img.width + sx) * img.channels + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      Image(dw, dh, img.channels, out)
    }
  }

  /** REAL pure-JVM WAV/PCM audio codec (no native deps): RIFF is a
    * public chunked container and 16-bit PCM samples are plain
    * little-endian integers — decode, statistics, resample, and
    * re-encode need no entropy codec at all, so unlike JPEG pixels
    * this modality has no excuse to sit behind [[FakeCodec]].
    *
    * Parsing contract (same as [[MediaCodec]]/[[PixelCodec]]): `None`
    * for anything not positively identified — truncated buffer, bad
    * magic, missing/malformed fmt or data chunk, non-PCM format,
    * unsupported bit depth — never a guess; a corrupt payload in a
    * 100 TB crawl routes to quarantine, not to fabricated samples.
    * Scope: format 1 (integer PCM) at 16 bits, plus the G.711
    * telephony pair — format 7 (µ-law) and format 6 (A-law), both
    * 8-bit — which expand to linear PCM via the standard CCITT
    * integer formulas ([[ulawToLinear]]/[[alawToLinear]]) at decode,
    * the shapes a speech/audio training pipeline normalizes to
    * anyway; float, ADPCM, and 8/24-bit linear return None.
    *
    * Samples are frame-major, channel-interleaved Ints in
    * [-32768, 32767]. The resampler is nearest-neighbor in exact
    * integer arithmetic (source frame = floor(dst·srcRate/dstRate)),
    * so an external engine can replay which source frame every
    * destination frame reads — the property the d35 gate hashes. */
  object WavCodec {
    final case class Wav(sampleRate: Int, channels: Int,
        samples: Array[Int]) {
      require(channels > 0 && samples.length % channels == 0,
        s"sample buffer ${samples.length} not a multiple of $channels channels")
      def nFrames: Int = samples.length / channels
    }

    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    private def put16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >>> 8) & 0xff)
    }
    private def put32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >>> 8) & 0xff).toInt)
      o.write(((v >>> 16) & 0xff).toInt); o.write(((v >>> 24) & 0xff).toInt)
    }
    private def tag(b: Array[Byte], i: Int, t: String): Boolean =
      i + 4 <= b.length && (0 until 4).forall(k => (b(i + k) & 0xff) == t.charAt(k))

    /** G.711 µ-law byte → linear PCM (the standard CCITT expansion —
      * pure integer arithmetic, no table, so an external SQL engine
      * can replay it: u = 255−b; t = ((u mod 16)·8 + 132) · 2^((u÷16)
      * mod 8); linear = 132−t if u ≥ 128 else t−132). Range ±32124
      * (code 0x00 → −32124, 0x80 → +32124, the two µ-law zeros 0xFF/
      * 0x7F → ±0) — inside int16, so decoded µ-law re-encodes as
      * 16-bit PCM without rescaling. */
    def ulawToLinear(b: Int): Int = {
      val u = (~b) & 0xff
      val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
      if ((u & 0x80) != 0) 0x84 - t else t - 0x84
    }

    /** G.711 A-law byte → linear PCM (the standard CCITT expansion,
      * SQL-replayable integer arithmetic: u = b XOR 85; seg =
      * (u÷16) mod 8; t = (u mod 16)·16 + 8 if seg = 0, else
      * ((u mod 16)·16 + 264) · 2^(seg−1); linear = t if u ≥ 128 else
      * −t). Range ±32256; the two codes 0xD5/0x55 are the A-law
      * zeros (+8/−8 — A-law has no exact zero). */
    def alawToLinear(b: Int): Int = {
      val u = (b ^ 0x55) & 0xff
      val seg = (u & 0x70) >> 4
      val t =
        if (seg == 0) ((u & 0x0f) << 4) + 8
        else (((u & 0x0f) << 4) + 0x108) << (seg - 1)
      if ((u & 0x80) != 0) t else -t
    }

    /** Encode to a complete, spec-valid RIFF/WAVE file (fmt + data,
      * correct sizes and even-byte chunk alignment). */
    def encodeWav(w: Wav): Array[Byte] = {
      require(w.sampleRate > 0 && w.sampleRate <= 1000000,
        s"sampleRate=${w.sampleRate}")
      val dataBytes = w.samples.length * 2
      val out = new java.io.ByteArrayOutputStream(44 + dataBytes)
      out.write("RIFF".getBytes("US-ASCII"))
      put32(out, 36L + dataBytes) // 4 ("WAVE") + (8+16 fmt) + (8+data)
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); put32(out, 16L)
      put16(out, 1) // audio format: integer PCM
      put16(out, w.channels)
      put32(out, w.sampleRate.toLong)
      put32(out, w.sampleRate.toLong * w.channels * 2) // byte rate
      put16(out, w.channels * 2) // block align
      put16(out, 16) // bits per sample
      out.write("data".getBytes("US-ASCII")); put32(out, dataBytes.toLong)
      var i = 0
      while (i < w.samples.length) {
        val v = w.samples(i)
        require(v >= -32768 && v <= 32767, s"sample $v out of int16 range")
        put16(out, v & 0xffff)
        i += 1
      }
      out.toByteArray
    }

    /** Encode raw µ-law BYTES into a format-7 RIFF container — the
      * fixture/interchange writer for telephony-shaped corpora. The
      * codec DECODES µ-law (expanding to linear via [[ulawToLinear]]);
      * decoded audio re-encodes through [[encodeWav]] as 16-bit PCM,
      * i.e. the pipeline-realistic transcode direction. */
    def encodeWavMulaw(sampleRate: Int, channels: Int,
        bytes: Array[Byte]): Array[Byte] =
      encodeG711(7, sampleRate, channels, bytes)

    /** A-law twin of [[encodeWavMulaw]] (format-6 RIFF container). */
    def encodeWavAlaw(sampleRate: Int, channels: Int,
        bytes: Array[Byte]): Array[Byte] =
      encodeG711(6, sampleRate, channels, bytes)

    private def encodeG711(fmtCode: Int, sampleRate: Int, channels: Int,
        bytes: Array[Byte]): Array[Byte] = {
      require(sampleRate > 0 && sampleRate <= 1000000, s"sampleRate=$sampleRate")
      require(channels >= 1 && channels <= 8 && bytes.length % channels == 0,
        s"${bytes.length} bytes not whole frames of $channels channels")
      val out = new java.io.ByteArrayOutputStream(44 + bytes.length)
      out.write("RIFF".getBytes("US-ASCII"))
      put32(out, 36L + bytes.length)
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); put32(out, 16L)
      put16(out, fmtCode) // 6 = G.711 A-law, 7 = G.711 µ-law
      put16(out, channels)
      put32(out, sampleRate.toLong)
      put32(out, sampleRate.toLong * channels) // byte rate: 1 B/sample
      put16(out, channels) // block align
      put16(out, 8) // bits per sample
      out.write("data".getBytes("US-ASCII")); put32(out, bytes.length.toLong)
      out.write(bytes)
      out.toByteArray
    }

    /** Full decode. None for: bad RIFF/WAVE magic, truncated or
      * malformed chunk layout, non-PCM audioFormat, bits != 16,
      * channels outside 1..8, inconsistent blockAlign, a data chunk
      * not a whole number of frames, or > 2^26 total samples (the
      * d33-style Long-guarded size cap: a crafted header must
      * quarantine, never drive a wrapped allocation). */
    def decodeWav(p: Array[Byte]): Option[Wav] = {
      if (p == null || p.length < 44) return None
      if (!tag(p, 0, "RIFF") || !tag(p, 8, "WAVE")) return None
      var i = 12
      var sampleRate = 0; var channels = 0; var haveFmt = false
      var fmtCode = 0 // 1 = PCM16, 6 = A-law, 7 = µ-law
      var samples: Array[Int] = null
      while (samples == null && i + 8 <= p.length) {
        val size = le32(p, i + 4)
        if (size < 0 || i + 8 + size > p.length) return None
        val l = size.toInt
        if (tag(p, i, "fmt ")) {
          if (l < 16) return None
          fmtCode = le16(p, i + 8) match { // audio format code
            case 1 => 1 // integer PCM
            case 6 => 6 // G.711 A-law
            case 7 => 7 // G.711 µ-law
            case _ => return None // float/ADPCM/...: quarantine
          }
          channels = le16(p, i + 10)
          if (channels < 1 || channels > 8) return None
          val sr = le32(p, i + 12)
          if (sr <= 0 || sr > 1000000) return None
          sampleRate = sr.toInt
          val bytesPer = if (fmtCode == 1) 2 else 1
          if (le16(p, i + 20) != channels * bytesPer) return None // block align
          if (le16(p, i + 22) != bytesPer * 8) return None // bits per sample
          haveFmt = true
        } else if (tag(p, i, "data")) {
          if (!haveFmt) return None // fmt must precede data (spec)
          val bytesPer = if (fmtCode == 1) 2 else 1
          if (l % (channels * bytesPer) != 0) return None // whole frames only
          val n = l / bytesPer
          if (n > (1 << 26)) return None // ~128 MiB of samples: size cap
          val out = new Array[Int](n)
          var k = 0
          while (k < n) {
            out(k) = fmtCode match {
              case 1 => le16(p, i + 8 + 2 * k).toShort.toInt // sign-extend
              case 6 => alawToLinear(p(i + 8 + k) & 0xff) // expand to linear
              case _ => ulawToLinear(p(i + 8 + k) & 0xff) // expand to linear
            }
            k += 1
          }
          samples = out
        }
        i += 8 + l + (l & 1) // chunks are even-byte aligned
      }
      if (samples == null) None
      else Some(Wav(sampleRate, channels, samples))
    }

    /** Nearest-neighbor resample to `dstRate`: destination frame count
      * = floor(nFrames·dstRate/srcRate); destination frame i reads
      * source frame floor(i·srcRate/dstRate) — all exact integer ops
      * (Long products so a long clip × high rate cannot wrap), every
      * channel of a frame moves together. */
    def resample(w: Wav, dstRate: Int): Wav = {
      require(dstRate > 0 && dstRate <= 1000000, s"dstRate=$dstRate")
      val nDst = (w.nFrames.toLong * dstRate / w.sampleRate).toInt
      val out = new Array[Int](nDst * w.channels)
      var i = 0
      while (i < nDst) {
        val src = (i.toLong * w.sampleRate / dstRate).toInt
        var c = 0
        while (c < w.channels) {
          out(i * w.channels + c) = w.samples(src * w.channels + c)
          c += 1
        }
        i += 1
      }
      Wav(dstRate, w.channels, out)
    }
  }

  /** Deterministic image fixture with REAL headers: payloads are
    * spec-correct PNG (even ids) / JFIF JPEG (odd ids) prefixes whose
    * dimensions and channel counts derive from `doc_id` arithmetic,
    * with the document text as trailing bytes. Because the expected
    * header fields are pure integer functions of `doc_id`, an external
    * SQL engine can replay them — which turns the header DECODER into
    * a hash-gated operator (the d06 gate): any byte-order, offset, or
    * channel-mapping bug in [[MediaCodec.parseHeader]] diverges from
    * the oracle's arithmetic. */
  def syntheticImages(spark: SparkSession, documents: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id").cast("long"),
      encode(col("text"), "UTF-8").as("body"))
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = src.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val body = r.getAs[Array[Byte]](1)
        val w = (16 + id % 64).toInt
        val h = (16 + id % 48).toInt
        val payload =
          if (id % 2 == 0) {
            val colorType = (id % 3) match { case 0 => 0; case 1 => 2; case _ => 6 }
            MediaCodec.pngBytes(w, h, colorType, body)
          } else {
            val n = if (id % 4 == 1) 1 else 3
            MediaCodec.jpegBytes(w, h, n, body)
          }
        Row(id, payload)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Batched per-partition header decode over opaque binary payloads —
    * the real-codec counterpart of [[extractFeatures]]'s embedding
    * stub: one decoder per partition, payloads never shuffle, output
    * is the typed manifest row (format/width/height/channels/bytes).
    * Unparseable payloads yield null header fields (quarantine
    * routing), never an exception. */
  def decodeHeaders(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("payload_bytes", LongType, nullable = false)))
    val idIdx = df.schema.fieldIndex("media_id")
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        MediaCodec.parseHeader(payload) match {
          case Some(hd) => Row(r.getLong(idIdx), hd.format, hd.width,
            hd.height, hd.channels, payload.length.toLong)
          case None => Row(r.getLong(idIdx), null, null, null, null,
            if (payload == null) 0L else payload.length.toLong)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic FULL-PIXEL PNG fixture: complete valid PNGs (IDAT
    * zlib stream, rotating per-row filter types) whose pixel values
    * are pure integer functions of `doc_id` — pixel(x,y,c) =
    * (doc_id + 7c + 3x + 5y) mod 251 — so an external SQL engine can
    * replay every pixel. Any bug in the zlib framing, scanline
    * unfiltering (all 5 filter types appear), channel interleave, or
    * dimension handling diverges from the oracle's arithmetic. */
  def syntheticPixelImages(spark: SparkSession, documents: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id").cast("long"))
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = src.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        val ch = (id % 3) match { case 0 => 1; case 1 => 3; case _ => 4 }
        val px = new Array[Int](w * h * ch)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var c = 0
            while (c < ch) {
              px((y * w + x) * ch + c) = ((id + 7 * c + 3 * x + 5 * y) % 251).toInt
              c += 1
            }
            x += 1
          }
          y += 1
        }
        Row(id, PixelCodec.encodePng(PixelCodec.Image(w, h, ch, px)))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Batched per-partition FULL pixel decode → per-image statistics:
    * dimensions, channel count, pixel count, value sum, and a
    * position-weighted sum (weight 1 + (x+3y+11c) mod 7) that a
    * transposed/reordered decode cannot fake. Payloads never shuffle;
    * undecodable rows yield null stats (quarantine routing). */
  def decodePixelStats(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("sum_val", LongType, nullable = true),
      StructField("wsum", LongType, nullable = true)))
    val idIdx = df.schema.fieldIndex("media_id")
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        PixelCodec.decodePng(r.getAs[Array[Byte]](payloadIdx)) match {
          case Some(img) =>
            var sum = 0L; var wsum = 0L
            var y = 0
            while (y < img.height) {
              var x = 0
              while (x < img.width) {
                var c = 0
                while (c < img.channels) {
                  val v = img.pixels((y * img.width + x) * img.channels + c)
                  sum += v
                  wsum += v.toLong * (1 + (x + 3 * y + 11 * c) % 7)
                  c += 1
                }
                x += 1
              }
              y += 1
            }
            Row(r.getLong(idIdx), img.width, img.height, img.channels, sum, wsum)
          case None => Row(r.getLong(idIdx), null, null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic FULL-SAMPLE WAV fixture: complete valid RIFF/PCM
    * files whose 16-bit samples are pure integer functions of
    * `doc_id` — sample(frame f, channel c) =
    * ((doc_id·7 + f·31 + c·17) mod 65536) − 32768 — so an external SQL
    * engine can replay every sample (the formula sweeps the full int16
    * range, so clipped extremes ±32767/−32768 occur naturally and the
    * clipping counter is exercised, not vacuous). Any bug in the RIFF
    * chunk walk, little-endian sample read, sign extension, channel
    * interleave, or frame accounting diverges from the oracle. */
  def syntheticWavs(spark: SparkSession, documents: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id").cast("long"))
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = src.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val sr = (id % 3) match { case 0 => 8000; case 1 => 16000; case _ => 44100 }
        val ch = (1 + id % 2).toInt
        val nf = (40 + id % 50).toInt
        val samples = new Array[Int](nf * ch)
        var f = 0
        while (f < nf) {
          var c = 0
          while (c < ch) {
            samples(f * ch + c) =
              (((id * 7 + f * 31 + c * 17) % 65536) - 32768).toInt
            c += 1
          }
          f += 1
        }
        Row(id, WavCodec.encodeWav(WavCodec.Wav(sr, ch, samples)))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic G.711 µ-law WAV fixture (telephony-shaped audio):
    * format-7 RIFF files whose µ-law BYTES are pure integer functions
    * of `doc_id` — byte(frame f, channel c) = (doc_id·11 + f·13 +
    * c·29) mod 256, sweeping all 256 code points — so an external SQL
    * engine can replay both the bytes AND the CCITT expansion
    * ([[WavCodec.ulawToLinear]]) to the linear samples the decoder
    * must produce. */
  def syntheticMulawWavs(spark: SparkSession, documents: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id").cast("long"))
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = src.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val sr = if (id % 2 == 0) 8000 else 16000
        val ch = (1 + id % 2).toInt
        val nf = (30 + id % 40).toInt
        val bytes = new Array[Byte](nf * ch)
        var f = 0
        while (f < nf) {
          var c = 0
          while (c < ch) {
            bytes(f * ch + c) = ((id * 11 + f * 13 + c * 29) % 256).toByte
            c += 1
          }
          f += 1
        }
        Row(id, WavCodec.encodeWavMulaw(sr, ch, bytes))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** A-law twin of [[syntheticMulawWavs]]: format-6 RIFF files whose
    * bytes are byte(f,c) = (doc_id·19 + f·23 + c·31) mod 256 — all 256
    * code points swept, expansion replayable via the A-law CCITT
    * formula ([[WavCodec.alawToLinear]]). */
  def syntheticAlawWavs(spark: SparkSession, documents: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id").cast("long"))
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rdd = src.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val sr = if (id % 2 == 0) 16000 else 8000
        val ch = (1 + (id + 1) % 2).toInt
        val nf = (25 + id % 45).toInt
        val bytes = new Array[Byte](nf * ch)
        var f = 0
        while (f < nf) {
          var c = 0
          while (c < ch) {
            bytes(f * ch + c) = ((id * 19 + f * 23 + c * 31) % 256).toByte
            c += 1
          }
          f += 1
        }
        Row(id, WavCodec.encodeWavAlaw(sr, ch, bytes))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Batched per-partition FULL WAV decode → per-clip audio statistics:
    * stream shape (rate/channels/frames), exact-integer duration in
    * microseconds, value/abs/square sums, peak, clipped-sample count
    * and ppm, RMS, and a position-weighted sum (weight 1 + (f+11c)
    * mod 7) that a channel-swapped or frame-reordered decode cannot
    * fake. Payloads never shuffle; undecodable rows yield null stats
    * (quarantine routing), never an exception. */
  def decodeWavStats(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("duration_us", LongType, nullable = true),
      StructField("sum_val", LongType, nullable = true),
      StructField("sum_abs", LongType, nullable = true),
      StructField("sum_sq", LongType, nullable = true),
      StructField("peak_abs", IntegerType, nullable = true),
      StructField("clipping_ppm", LongType, nullable = true),
      StructField("rms", DoubleType, nullable = true),
      StructField("wsum", LongType, nullable = true)))
    val idIdx = df.schema.fieldIndex("media_id")
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        WavCodec.decodeWav(r.getAs[Array[Byte]](payloadIdx)) match {
          case Some(w) =>
            var sum = 0L; var sabs = 0L; var ssq = 0L; var wsum = 0L
            var peak = 0; var clipped = 0L
            var f = 0
            while (f < w.nFrames) {
              var c = 0
              while (c < w.channels) {
                val v = w.samples(f * w.channels + c)
                val a = math.abs(v)
                sum += v; sabs += a; ssq += v.toLong * v
                if (a > peak) peak = a
                if (v == 32767 || v == -32768) clipped += 1
                wsum += v.toLong * (1 + (f + 11 * c) % 7)
                c += 1
              }
              f += 1
            }
            val total = w.samples.length.toLong
            Row(r.getLong(idIdx), w.sampleRate, w.channels, w.nFrames,
              w.nFrames.toLong * 1000000L / w.sampleRate,
              sum, sabs, ssq, peak, clipped * 1000000L / total,
              // raw (unrounded) RMS: gated queries apply Spark round()
              // so the rounding semantics match the oracle's round()
              // the same way every other gated double does
              math.sqrt(ssq.toDouble / total),
              wsum)
          case None => Row(r.getLong(idIdx), null, null, null, null, null,
            null, null, null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL resample over WAV payloads: decode → nearest-neighbor
    * resample to `dstRate` → re-encode, one codec pass per partition,
    * payloads never shuffle. Undecodable payloads pass through with
    * `resampled = false` (quarantine routing). */
  def resampleWav(df: DataFrame, dstRate: Int): DataFrame = {
    require(dstRate > 0 && dstRate <= 1000000, s"dstRate=$dstRate")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("resampled", BooleanType, nullable = false)))
    val idIdx = df.schema.fieldIndex("media_id")
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        WavCodec.decodeWav(payload) match {
          case Some(w) => Row(r.getLong(idIdx),
            WavCodec.encodeWav(WavCodec.resample(w, dstRate)), true)
          case None => Row(r.getLong(idIdx), payload, false)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL resize over PNG payloads: decode → nearest-neighbor resample
    * → re-encode, one codec instance per partition, payloads never
    * shuffle — the production replacement for [[resizeStub]] on PNG
    * media. Undecodable payloads pass through with `resized = false`
    * so a crawl's corrupt tail routes to quarantine instead of
    * failing the job. */
  def resizePng(df: DataFrame, width: Int, height: Int): DataFrame = {
    require(width > 0 && height > 0, s"resize to ${width}x$height")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("resized", BooleanType, nullable = false)))
    val idIdx = df.schema.fieldIndex("media_id")
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        PixelCodec.decodePng(payload) match {
          case Some(img) => Row(r.getLong(idIdx),
            PixelCodec.encodePng(PixelCodec.resizeNearest(img, width, height)),
            true)
          case None => Row(r.getLong(idIdx), payload, false)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Batched per-partition feature extraction — the mapInPandas-shaped
    * step: one decoder instance per partition (amortized init), rows
    * streamed through it. Output: (media_id, kind, features array). */
  def extractFeatures(df: DataFrame, dim: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val idIdx = df.schema.fieldIndex("media_id")
    val kindIdx = df.schema.fieldIndex("kind")
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { it =>
      // decoder/codec init would happen once per partition here
      it.map { r =>
        Row(r.getLong(idIdx), r.getString(kindIdx),
          FakeCodec.decode(r.getAs[Array[Byte]](payloadIdx), dim).toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Column-level frame sampling: `n` evenly spaced offsets into an
    * `nFrames`-frame payload — same integer arithmetic as
    * [[FakeCodec.sampleFrames]] but as a pure expression
    * (sequence/transform), so planning a 100 TB frame-extraction job
    * never leaves the declarative plan. Empty for nFrames <= 0. */
  def frameSampleOffsets(nFrames: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val take = least(lit(n), nFrames)
    when(nFrames <= 0 || lit(n) <= 0, array().cast("array<int>"))
      .otherwise(transform(sequence(lit(0), take - 1),
        i => (i * nFrames.cast("long") / take.cast("long")).cast("int")))
  }

  /** STUB resize: a real build decodes, scales, and re-encodes the
    * payload; the deterministic stand-in truncates it to a
    * width×height byte budget (one byte per pixel placeholder) so the
    * plumbing — metadata rewrite, byte accounting, map-side-only
    * execution — is real and testable. Payloads already under budget
    * pass through unchanged; `meta.width/height` always update. Swap
    * the payload expression for a real codec call and nothing else
    * changes. */
  def resizeStub(df: DataFrame, width: Int, height: Int): DataFrame = {
    require(width > 0 && height > 0, s"resize to ${width}x$height")
    // Long product, capped: 65536×65536 must not overflow Int to a
    // zero budget that would silently empty every payload
    val budget = math.min(width.toLong * height.toLong, Int.MaxValue.toLong).toInt
    df.withColumn("payload", substring(col("payload"), 1, budget))
      .withColumn("meta", struct(
        lit(width).as("width"), lit(height).as("height"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.n_frames").as("n_frames")))
  }

  /** Payload-size-aware repartitioning: target ≤ `bytesPerPartition`
    * of media per task regardless of row-size skew. */
  def repartitionForPayloads(df: DataFrame, bytesPerPartition: Long): DataFrame = {
    val totalBytes = df.agg(sum(length(col("payload")))).head().getLong(0)
    val parts = math.max(1, (totalBytes / bytesPerPartition).toInt)
    df.repartition(parts)
  }

  /** Builds a deterministic multimodal frame from the documents table
    * (text bytes as stand-in payloads) — the fixture generator for
    * tests and demo queries. */
  def syntheticMedia(spark: SparkSession, documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      (when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit(64).as("width"), lit(64).as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") % 100).cast("int").as("n_frames")).as("meta"))

  /** REAL pure-JVM IMA ADPCM codec — WAV format 0x11, the classic
    * 4-bit differential speech codec. COMPRESSED audio that is NOT an
    * entropy codec: each nibble advances a (predictor, step-index)
    * state machine through two fixed integer tables, so — unlike
    * MP3/AAC — the whole decode is exact integer arithmetic an
    * external SQL engine can replay (the d44 oracle walks the
    * recurrence with a recursive CTE and the 89-entry step table as a
    * literal list). This moves "compressed audio" across the
    * FakeCodec boundary; only entropy-coded audio remains behind it.
    *
    * Container scope: mono, bitsPerSample 4, the standard block
    * layout — per block a 4-byte header (int16 predictor, uint8 step
    * index ≤ 88, reserved 0) whose predictor IS the block's first
    * sample, then nibble pairs low-nibble-first, samplesPerBlock =
    * (blockAlign − 4)·2 + 1. Stereo, loose trailing blocks, nonzero
    * reserved bytes, or an index > 88 quarantine (None, never a
    * guess). The ENCODER is the standard bit-serial quantizer with
    * state carried across blocks; ImaAdpcmSpec pins decode∘encode
    * tracking error ≤ the local step size (the codec's own bound) and
    * bit-exact re-encode of a decode (state alignment). */
  object ImaAdpcmCodec {
    import WavCodec.Wav

    val stepTable: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
      37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
      157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
      544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
      1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
      4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
      12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
      29794, 32767)
    val indexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

    /** One decoder step: (predictor, index) + nibble → next state.
      * diff = step/8 + b0·step/4 + b1·step/2 + b2·step, sign from b3;
      * predictor clamps to int16, index by the index table to 0..88. */
    def advance(pred: Int, idx: Int, nib: Int): (Int, Int) = {
      val step = stepTable(idx)
      var diff = step >> 3
      if ((nib & 1) != 0) diff += step >> 2
      if ((nib & 2) != 0) diff += step >> 1
      if ((nib & 4) != 0) diff += step
      val p = if ((nib & 8) != 0) pred - diff else pred + diff
      (math.max(-32768, math.min(32767, p)),
        math.max(0, math.min(88, idx + indexTable(nib & 7))))
    }

    /** The standard bit-serial quantizer: pick the nibble whose decoded
      * diff best tracks `want − pred` under the current step. */
    def quantize(want: Int, pred: Int, step: Int): Int = {
      var diff = want - pred
      var nib = 0
      if (diff < 0) { nib = 8; diff = -diff }
      if (diff >= step) { nib |= 4; diff -= step }
      if (diff >= (step >> 1)) { nib |= 2; diff -= step >> 1 }
      if (diff >= (step >> 2)) { nib |= 1 }
      nib
    }

    private def put16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >>> 8) & 0xff)
    }
    private def put32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >>> 8) & 0xff).toInt)
      o.write(((v >>> 16) & 0xff).toInt); o.write(((v >>> 24) & 0xff).toInt)
    }
    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    private def tag(b: Array[Byte], i: Int, t: String): Boolean =
      i + 4 <= b.length && (0 until 4).forall(k => (b(i + k) & 0xff) == t.charAt(k))

    /** Wrap raw ADPCM block bytes in a spec-valid format-0x11 RIFF
      * container (mono; fmt carries cbSize=2 + samplesPerBlock). */
    def imaWavBytes(sampleRate: Int, blockAlign: Int,
        blocks: Array[Byte]): Array[Byte] = {
      require(blockAlign > 4 && blocks.length % blockAlign == 0,
        s"${blocks.length} bytes not whole $blockAlign-byte blocks")
      val spb = (blockAlign - 4) * 2 + 1
      val out = new java.io.ByteArrayOutputStream(48 + blocks.length)
      out.write("RIFF".getBytes("US-ASCII"))
      put32(out, 40L + blocks.length) // 4 + (8+20 fmt) + (8+data)
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); put32(out, 20L)
      put16(out, 0x11); put16(out, 1)
      put32(out, sampleRate.toLong)
      put32(out, sampleRate.toLong * blockAlign / spb) // avg byte rate
      put16(out, blockAlign); put16(out, 4) // bits per sample
      put16(out, 2); put16(out, spb)        // cbSize, samplesPerBlock
      out.write("data".getBytes("US-ASCII")); put32(out, blocks.length.toLong)
      out.write(blocks)
      out.toByteArray
    }

    /** Full decode. None for: bad magic/layout, format != 0x11, not
      * mono, bits != 4, missing samplesPerBlock or one inconsistent
      * with blockAlign, data not whole blocks, step index > 88, or a
      * nonzero reserved header byte — quarantine, never a guess. */
    def decodeImaWav(p: Array[Byte]): Option[Wav] = {
      if (p == null || p.length < 48) return None
      if (!tag(p, 0, "RIFF") || !tag(p, 8, "WAVE")) return None
      var i = 12
      var sampleRate = 0; var blockAlign = 0; var spb = 0
      var haveFmt = false
      var samples: Array[Int] = null
      while (samples == null && i + 8 <= p.length) {
        val size = le32(p, i + 4)
        if (size < 0 || i + 8 + size > p.length) return None
        val l = size.toInt
        if (tag(p, i, "fmt ")) {
          if (l < 20) return None
          if (le16(p, i + 8) != 0x11) return None
          if (le16(p, i + 10) != 1) return None // mono only
          val sr = le32(p, i + 12)
          if (sr <= 0 || sr > 1000000) return None
          sampleRate = sr.toInt
          blockAlign = le16(p, i + 20)
          if (le16(p, i + 22) != 4) return None // bits per sample
          if (le16(p, i + 24) < 2) return None  // cbSize
          spb = le16(p, i + 26)
          if (blockAlign <= 4 || spb != (blockAlign - 4) * 2 + 1) return None
          haveFmt = true
        } else if (tag(p, i, "data")) {
          if (!haveFmt) return None
          if (l % blockAlign != 0) return None
          val nBlocks = l / blockAlign
          if (nBlocks.toLong * spb > (1 << 26)) return None // size cap
          val out = new Array[Int](nBlocks * spb)
          var b = 0
          while (b < nBlocks) {
            val base = i + 8 + b * blockAlign
            var pred = le16(p, base).toShort.toInt
            var idx = p(base + 2) & 0xff
            if (idx > 88) return None
            if (p(base + 3) != 0) return None // reserved byte
            out(b * spb) = pred
            var k = 0
            while (k < (blockAlign - 4) * 2) {
              val byte = p(base + 4 + (k >> 1)) & 0xff
              val nib = if ((k & 1) == 0) byte & 0x0f else byte >> 4
              val st = advance(pred, idx, nib)
              pred = st._1; idx = st._2
              out(b * spb + 1 + k) = pred
              k += 1
            }
            b += 1
          }
          samples = out
        }
        i += 8 + l + (l & 1)
      }
      if (samples == null) None else Some(Wav(sampleRate, 1, samples))
    }

    /** Standard encoder: state (predictor, index) carries across
      * blocks; each block header stores the state at block start and
      * its predictor IS the block's first sample (so total samples =
      * nBlocks · samplesPerBlock; the caller pads to whole blocks).
      * Deterministic: same input, same bytes. */
    def encodeIma(w: Wav, blockAlign: Int): Array[Byte] = {
      require(w.channels == 1, "IMA ADPCM encoder: mono only")
      val spb = (blockAlign - 4) * 2 + 1
      require(w.samples.length % spb == 0,
        s"${w.samples.length} samples not whole blocks of $spb")
      val nBlocks = w.samples.length / spb
      val blocks = new Array[Byte](nBlocks * blockAlign)
      var pred = 0; var idx = 0
      var b = 0
      while (b < nBlocks) {
        val base = b * blockAlign
        pred = w.samples(b * spb) // header predictor = first sample
        blocks(base) = (pred & 0xff).toByte
        blocks(base + 1) = ((pred >> 8) & 0xff).toByte
        blocks(base + 2) = idx.toByte
        blocks(base + 3) = 0
        var k = 0
        while (k < (blockAlign - 4) * 2) {
          val want = w.samples(b * spb + 1 + k)
          val nib = quantize(want, pred, stepTable(idx))
          val st = advance(pred, idx, nib)
          pred = st._1; idx = st._2
          val bi = base + 4 + (k >> 1)
          if ((k & 1) == 0) blocks(bi) = (nib & 0x0f).toByte
          else blocks(bi) = (blocks(bi) | (nib << 4)).toByte
          k += 1
        }
        b += 1
      }
      imaWavBytes(w.sampleRate, blockAlign, blocks)
    }

    /** Deterministic single-block fixture: sr = 8000 + (id%4)·2000,
      * header predictor = ((id·7919 + 123) mod 65536) − 32768, step
      * index = id mod 89, 24 nibble bytes b_j = (id·13 + 29j) mod 256
      * (blockAlign 28 → 49 samples) — every field a doc_id closed
      * form, so the oracle replays the full decode recurrence. */
    def syntheticImaWavs(spark: SparkSession, documents: DataFrame): DataFrame = {
      val src = documents.select(col("doc_id").cast("long"))
      val outSchema = StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val rdd = src.rdd.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val sr = (8000 + (id % 4) * 2000).toInt
          val pred = (((id * 7919 + 123) % 65536) - 32768).toInt
          val idx = (id % 89).toInt
          val block = new Array[Byte](28)
          block(0) = (pred & 0xff).toByte
          block(1) = ((pred >> 8) & 0xff).toByte
          block(2) = idx.toByte
          block(3) = 0
          var j = 0
          while (j < 24) {
            block(4 + j) = ((id * 13 + 29 * j) % 256).toByte
            j += 1
          }
          Row(id, imaWavBytes(sr, 28, block))
        }
      }
      spark.createDataFrame(rdd, outSchema)
    }

    /** The d44 gate kernel: decode → exact sample statistics →
      * half-rate resample (the samples a 2× downsample keeps) → PCM16
      * transcode round trip. Payloads never shuffle; undecodable rows
      * quarantine to nulls. */
    def decodeImaStats(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      val outSchema = StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("sr", IntegerType, nullable = true),
        StructField("n_samples", IntegerType, nullable = true),
        StructField("sum_val", LongType, nullable = true),
        StructField("min_val", IntegerType, nullable = true),
        StructField("max_val", IntegerType, nullable = true),
        StructField("wsum", LongType, nullable = true),
        StructField("half_sum", LongType, nullable = true),
        StructField("pcm_ok", IntegerType, nullable = true)))
      val idIdx = df.schema.fieldIndex("media_id")
      val payloadIdx = df.schema.fieldIndex("payload")
      val rdd = df.rdd.mapPartitions { it =>
        it.map { r =>
          decodeImaWav(r.getAs[Array[Byte]](payloadIdx)) match {
            case Some(w) =>
              var sum = 0L; var wsum = 0L
              var mn = Int.MaxValue; var mx = Int.MinValue
              var k = 0
              while (k < w.samples.length) {
                val v = w.samples(k)
                sum += v; wsum += v.toLong * (1 + k % 7)
                if (v < mn) mn = v
                if (v > mx) mx = v
                k += 1
              }
              val half = WavCodec.resample(w, w.sampleRate / 2)
              var halfSum = 0L
              var i2 = 0
              while (i2 < half.samples.length) {
                halfSum += half.samples(i2); i2 += 1
              }
              val pcm = WavCodec.encodeWav(w)
              val pcmOk = WavCodec.decodeWav(pcm) match {
                case Some(w2)
                  if w2.sampleRate == w.sampleRate &&
                    w2.samples.sameElements(w.samples) => 1
                case _ => 0
              }
              Row(r.getLong(idIdx), w.sampleRate, w.samples.length,
                sum, mn, mx, wsum, halfSum, pcmOk)
            case None =>
              Row(r.getLong(idIdx), null, null, null, null, null, null,
                null, null)
          }
        }
      }
      spark.createDataFrame(rdd, outSchema)
    }
  }
}
