package graft.functions

import java.util.zip.CRC32

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * C12 — REAL image-container codecs for the multimodal column family:
 * byte-exact PNG / JPEG (JFIF) / GIF header encode and a marker-walking
 * metadata parser, both as codegen'd Catalyst expressions (no UDFs).
 *
 * Both are one static call, so they are bound with [[Kernel]] (Spark's
 * `StaticInvoke`, in MediaExpressions.scala), never with a hand-written
 * `Expression`. Write an `Expression` class only when its `doGenCode`
 * emits its own code.
 *
 * The container structures follow the public specs — PNG (RFC 2083: 8-byte
 * signature, IHDR first chunk, CRC-32 over type+data), JPEG/JFIF (ISO
 * 10918 marker segments: SOI, APP0, a variable-length COM, SOF0 carrying
 * precision/height/width), GIF89a (little-endian logical-screen size,
 * packed colour-resolution bits). The parser does not trust fixed offsets:
 * JPEG metadata is found by walking marker segments (skipping APPn/COM of
 * arbitrary length, tolerating standalone RST/TEM markers) exactly as a
 * real decoder locates SOF — so the round-trip through a variable-length
 * COM pad is a genuine structural gate, DuckDB-replayable arithmetically.
 *
 * Pixel payload decode stays out of scope (no codec libraries in this
 * environment — documented in [[graft.operators.Multimodal]]); header
 * geometry/format/depth, the part every curation pipeline filters on,
 * is parsed for real here.
 */
object ImageCodecUtil {
  private def u16be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
  private def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)

  val PngFmt: UTF8String = UTF8String.fromString("png")
  val JpegFmt: UTF8String = UTF8String.fromString("jpeg")
  val GifFmt: UTF8String = UTF8String.fromString("gif")

  /** Structurally-valid PNG: signature + IHDR (real CRC-32) + IEND. */
  def encodePng(width: Int, height: Int, depth: Int): Array[Byte] = {
    val out = new Array[Byte](8 + 25 + 12)
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    var i = 0
    while (i < 8) { out(i) = sig(i).toByte; i += 1 }
    // IHDR: len=13, "IHDR", w, h, bitDepth, colour=6 (RGBA), 0, 0, 0
    out(11) = 13
    out(12) = 'I'; out(13) = 'H'; out(14) = 'D'; out(15) = 'R'
    out(16) = (width >>> 24).toByte; out(17) = (width >>> 16).toByte
    out(18) = (width >>> 8).toByte; out(19) = width.toByte
    out(20) = (height >>> 24).toByte; out(21) = (height >>> 16).toByte
    out(22) = (height >>> 8).toByte; out(23) = height.toByte
    out(24) = depth.toByte
    out(25) = 6
    val crc = new CRC32
    crc.update(out, 12, 17)
    val c = crc.getValue
    out(29) = (c >>> 24).toByte; out(30) = (c >>> 16).toByte
    out(31) = (c >>> 8).toByte; out(32) = c.toByte
    // IEND: len=0, "IEND", fixed CRC AE 42 60 82
    out(37) = 'I'; out(38) = 'E'; out(39) = 'N'; out(40) = 'D'
    out(41) = 0xAE.toByte; out(42) = 0x42; out(43) = 0x60; out(44) = 0x82.toByte
    out
  }

  /** Structurally-valid JFIF: SOI, APP0, COM of `pad` bytes (variable
    * offset — the parser must WALK to SOF0), SOF0, SOS, EOI. */
  def encodeJpeg(width: Int, height: Int, depth: Int, pad: Int): Array[Byte] = {
    val p = math.max(0, pad)
    val out = new Array[Byte](2 + 18 + (4 + p) + 19 + 14 + 2)
    var i = 0
    out(i) = 0xFF.toByte; out(i + 1) = 0xD8.toByte; i += 2 // SOI
    // APP0 "JFIF": len 16
    out(i) = 0xFF.toByte; out(i + 1) = 0xE0.toByte
    out(i + 2) = 0; out(i + 3) = 16
    out(i + 4) = 'J'; out(i + 5) = 'F'; out(i + 6) = 'I'; out(i + 7) = 'F'; out(i + 8) = 0
    out(i + 9) = 1; out(i + 10) = 2 // version 1.2
    out(i + 11) = 0 // density units
    out(i + 12) = 0; out(i + 13) = 1; out(i + 14) = 0; out(i + 15) = 1 // 1x1 density
    i += 18 // thumbnail 0x0 (two zero bytes already present)
    // COM: len = 2 + pad
    out(i) = 0xFF.toByte; out(i + 1) = 0xFE.toByte
    out(i + 2) = ((p + 2) >>> 8).toByte; out(i + 3) = (p + 2).toByte
    var j = 0
    while (j < p) { out(i + 4 + j) = 'x'; j += 1 }
    i += 4 + p
    // SOF0: len = 8 + 3*3 = 17, precision, height, width, 3 components
    out(i) = 0xFF.toByte; out(i + 1) = 0xC0.toByte
    out(i + 2) = 0; out(i + 3) = 17
    out(i + 4) = depth.toByte
    out(i + 5) = (height >>> 8).toByte; out(i + 6) = height.toByte
    out(i + 7) = (width >>> 8).toByte; out(i + 8) = width.toByte
    out(i + 9) = 3
    var c = 0
    while (c < 3) {
      out(i + 10 + 3 * c) = (c + 1).toByte
      out(i + 11 + 3 * c) = 0x11
      out(i + 12 + 3 * c) = if (c == 0) 0 else 1
      c += 1
    }
    i += 19
    // SOS: len 12, 3 components (id, entropy-table selectors), spectral
    // selection 0..63, approximation 0 — completes the marker skeleton so
    // independent readers (e.g. the JDK's) accept the stream
    out(i) = 0xFF.toByte; out(i + 1) = 0xDA.toByte
    out(i + 2) = 0; out(i + 3) = 12
    out(i + 4) = 3
    out(i + 5) = 1; out(i + 6) = 0x00
    out(i + 7) = 2; out(i + 8) = 0x11
    out(i + 9) = 3; out(i + 10) = 0x11
    out(i + 11) = 0; out(i + 12) = 0x3F; out(i + 13) = 0
    i += 14
    out(i) = 0xFF.toByte; out(i + 1) = 0xD9.toByte // EOI
    out
  }

  /** GIF89a logical-screen descriptor; depth rides the packed
    * colour-resolution bits ((flags >> 4 & 7) + 1). */
  def encodeGif(width: Int, height: Int, depth: Int): Array[Byte] = {
    val out = new Array[Byte](13)
    out(0) = 'G'; out(1) = 'I'; out(2) = 'F'; out(3) = '8'; out(4) = '9'; out(5) = 'a'
    out(6) = width.toByte; out(7) = (width >>> 8).toByte
    out(8) = height.toByte; out(9) = (height >>> 8).toByte
    // colour-resolution bits; bit 7 clear — no global colour table follows
    out(10) = ((((depth - 1) & 7) << 4) | ((depth - 1) & 7)).toByte
    out(11) = 0 // background colour index
    out(12) = 0 // pixel aspect ratio
    out
  }

  /** Dispatch on the kind code used by the media tables: 0 png, 1 jpeg,
    * 2 gif (same modulus the C12 plumbing assigns). */
  def encode(kind: Int, width: Int, height: Int, depth: Int, pad: Int): Array[Byte] =
    kind match {
      case 0 => encodePng(width, height, depth)
      case 1 => encodeJpeg(width, height, depth, pad)
      case _ => encodeGif(width, height, depth)
    }

  /** Parse container metadata: struct(format, width, height, depth), or
    * null when the bytes are not a recognizable image container. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // PNG: signature, then the first chunk MUST be IHDR (RFC 2083 §3.1)
    if (b.length >= 29 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A && b(7) == 0x0A) {
      if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R') return null
      val w = u32be(b, 16); val h = u32be(b, 20)
      if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) return null
      return new GenericInternalRow(Array[Any](PngFmt, w.toInt, h.toInt, b(24) & 0xFF))
    }
    // JPEG: SOI then marker-segment walk to the first SOF (C0/C1/C2)
    if (b.length >= 4 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xFF) != 0xFF) return null // desynchronized stream
        val marker = b(i + 1) & 0xFF
        if (marker == 0xFF) { i += 1 } // fill bytes before a marker
        else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD9)) {
          i += 2 // standalone TEM/RSTn/EOI: no length field
        } else if (marker == 0xC0 || marker == 0xC1 || marker == 0xC2) {
          if (i + 8 >= b.length) return null
          val h = u16be(b, i + 5); val w = u16be(b, i + 7)
          if (w == 0 || h == 0) return null
          return new GenericInternalRow(Array[Any](JpegFmt, w, h, b(i + 4) & 0xFF))
        } else if (marker == 0xDA) {
          return null // entropy-coded data reached without a SOF
        } else {
          val len = u16be(b, i + 2)
          if (len < 2) return null
          i += 2 + len
        }
      }
      return null
    }
    // GIF: 87a or 89a
    if (b.length >= 13 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      val w = u16le(b, 6); val h = u16le(b, 8)
      if (w == 0 || h == 0) return null
      return new GenericInternalRow(
        Array[Any](GifFmt, w, h, (((b(10) & 0xFF) >> 4) & 7) + 1))
    }
    null
  }
}

/** Column-level entry points; the `private[functions]` kernels are also
  * the SQL functions [[GraftExtensions]] registers. */
object ImageFunctions {
  private val I = IntegerType

  private[functions] val encode = Kernel.encoder(ImageCodecUtil, "encode", I, I, I, I, I)
  private[functions] val parse = Kernel.parser(ImageCodecUtil, "parse",
    "format" -> StringType, "width" -> I, "height" -> I, "depth" -> I)

  /** Synthesize container bytes from (kind 0=png/1=jpeg/2=gif, width,
    * height, depth, pad) int columns. */
  def imageBytes(kind: Column, width: Column, height: Column,
                 depth: Column, pad: Column): Column =
    encode(kind, width, height, depth, pad)

  /** Parse image-container bytes → struct(format, width, height, depth);
    * null for unrecognizable or corrupt buffers (marker walk). */
  def imageMeta(bytes: Column): Column = parse(bytes)
}
