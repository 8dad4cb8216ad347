package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.{graftbridge => bridge}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * C12 — REAL audio/video container codecs completing the multimodal
 * family next to [[ImageCodecUtil]]: byte-exact WAV (RIFF), MP4
 * (ISO BMFF), AAC ADTS and Ogg Vorbis encode plus chunk/box/frame/
 * page-walking metadata parsers, all as codegen'd Catalyst expressions
 * (no UDFs).
 *
 * Each kernel is one static call, so it is bound with [[Kernel]] (Spark's
 * `StaticInvoke`), never with a hand-written `Expression`. Write an
 * `Expression` class only when its `doGenCode` emits its own code (a
 * loop, an aggregate buffer), as the vector and sketch families do.
 *
 * The container structures follow the public specs — RIFF/WAVE
 * (Microsoft/IBM RIFF 1.0: little-endian chunk id+size stream,
 * word-aligned chunks, `fmt ` format descriptor, `data` payload),
 * ISO 14496-12 boxes (big-endian size+fourcc, `ftyp` brand box,
 * `moov`/`mvhd` carrying timescale+duration), ISO 14496-3 ADTS
 * (13-bit frame-length syncword chain, sampling-frequency-index table,
 * 1024 samples per raw_data_block) and RFC 3533 Ogg pages (lacing
 * tables, granule positions, the 0x04C11DB7/init-0 page CRC) with the
 * Vorbis I identification header. WAV/MP4/ADTS carry no checksum, so
 * their oracles replay the ENTIRE byte stream hex-wise in SQL; Ogg's
 * CRC keeps its byte gate in the spec and its metadata gate in SQL.
 *
 * The parsers do not trust fixed offsets: a variable-length `LIST/INFO`
 * chunk (WAV) and a variable-length `free` box (MP4) sit before the
 * metadata, so recovering it requires a genuine chunk/box walk — same
 * design as the JPEG COM-segment walk in [[ImageCodecUtil]]. Sample
 * payload decode stays out of scope (documented in
 * [[graft.operators.Multimodal]]); container geometry — sample rate,
 * channels, bit depth, timescale, duration, the fields a curation
 * pipeline filters on — is parsed for real.
 */
object MediaCodecUtil {
  private def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
  private def u64be(b: Array[Byte], i: Int): Long =
    (u32be(b, i) << 32) | u32be(b, i + 4)
  private def fourcc(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0).toByte && b(i + 1) == s.charAt(1).toByte &&
      b(i + 2) == s.charAt(2).toByte && b(i + 3) == s.charAt(3).toByte

  private def putTag(out: Array[Byte], i: Int, s: String): Unit = {
    var j = 0
    while (j < 4) { out(i + j) = s.charAt(j).toByte; j += 1 }
  }
  private def putU16le(out: Array[Byte], i: Int, v: Int): Unit = {
    out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
  }
  private def putU32le(out: Array[Byte], i: Int, v: Long): Unit = {
    out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
  }
  private def putU32be(out: Array[Byte], i: Int, v: Long): Unit = {
    out(i) = (v >>> 24).toByte; out(i + 1) = (v >>> 16).toByte
    out(i + 2) = (v >>> 8).toByte; out(i + 3) = v.toByte
  }

  val WavFmt: UTF8String = UTF8String.fromString("wav")
  val Mp4Fmt: UTF8String = UTF8String.fromString("mp4")

  /** Structurally-complete PCM WAV: RIFF header, a variable-length
    * LIST/INFO/ICMT chunk of `pad` comment bytes BEFORE `fmt ` (forces
    * the parser to walk), canonical 16-byte `fmt `, and a `data` chunk
    * of `nSamples` zeroed frames. Odd-sized chunks get the RIFF
    * word-alignment pad byte. */
  def encodeWav(sampleRate: Int, channels: Int, bits: Int,
                nSamples: Int, pad: Int): Array[Byte] = {
    val p = math.max(0, pad)
    val p2 = p + (p & 1)
    val block = channels * (bits / 8)
    val dsize = nSamples.toLong * block
    val d2 = dsize + (dsize & 1)
    val listSize = 4 + 8 + p2 // "INFO" + ICMT header + padded comment
    val total = 12 + (8 + listSize) + 24 + 8 + d2
    val out = new Array[Byte](total.toInt)
    var i = 0
    putTag(out, i, "RIFF"); putU32le(out, i + 4, total - 8); putTag(out, i + 8, "WAVE")
    i += 12
    putTag(out, i, "LIST"); putU32le(out, i + 4, listSize); putTag(out, i + 8, "INFO")
    putTag(out, i + 12, "ICMT"); putU32le(out, i + 16, p)
    var j = 0
    while (j < p) { out(i + 20 + j) = 'x'; j += 1 } // alignment byte stays 0
    i += 8 + listSize
    putTag(out, i, "fmt "); putU32le(out, i + 4, 16)
    putU16le(out, i + 8, 1) // PCM
    putU16le(out, i + 10, channels)
    putU32le(out, i + 12, sampleRate.toLong)
    putU32le(out, i + 16, sampleRate.toLong * block)
    putU16le(out, i + 20, block)
    putU16le(out, i + 22, bits)
    i += 24
    putTag(out, i, "data"); putU32le(out, i + 4, dsize)
    out // zeroed PCM frames (+ alignment byte) are already in place
  }

  /** Structurally-valid minimal MP4: `ftyp` (isom major brand), a
    * variable-length `free` box (forces the box walk), and `moov`
    * containing a version-0 `mvhd` carrying timescale + duration. */
  def encodeMp4(timescale: Int, duration: Long, pad: Int): Array[Byte] = {
    val p = math.max(0, pad)
    val out = new Array[Byte](24 + (8 + p) + 8 + 108)
    var i = 0
    putU32be(out, i, 24); putTag(out, i + 4, "ftyp")
    putTag(out, i + 8, "isom"); putU32be(out, i + 12, 0x200)
    putTag(out, i + 16, "isom"); putTag(out, i + 20, "mp42")
    i += 24
    putU32be(out, i, 8L + p); putTag(out, i + 4, "free")
    i += 8 + p // free payload stays zeroed
    putU32be(out, i, 8 + 108); putTag(out, i + 4, "moov")
    i += 8
    putU32be(out, i, 108); putTag(out, i + 4, "mvhd")
    // version 0 + flags 0, ctime 0, mtime 0 already zeroed
    putU32be(out, i + 20, timescale.toLong)
    putU32be(out, i + 24, duration)
    putU32be(out, i + 28, 0x00010000L) // rate 1.0
    out(i + 32) = 0x01 // volume 1.0 (u16be 0x0100)
    // 2+8 reserved bytes stay zeroed
    putU32be(out, i + 44, 0x00010000L) // unity matrix
    putU32be(out, i + 60, 0x00010000L)
    putU32be(out, i + 76, 0x40000000L)
    // 24 pre_defined bytes stay zeroed
    putU32be(out, i + 104, 2) // next_track_ID
    out
  }

  /** Parse WAV metadata: struct(format, sample_rate, channels, bits,
    * n_samples), or null when the bytes are not a RIFF/WAVE stream with
    * a complete `fmt ` chunk. The chunk walk skips unknown chunks and
    * honors word alignment. */
  def parseWav(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    if (!fourcc(b, 0, "RIFF") || !fourcc(b, 8, "WAVE")) return null
    var i = 12
    var rate = -1L; var channels = -1; var bits = -1; var block = -1
    var dsize = -1L
    while (i + 8 <= b.length) {
      val size = u32le(b, i + 4)
      if (size < 0 || i + 8 + size > b.length) return null // truncated chunk
      if (fourcc(b, i, "fmt ")) {
        if (size < 16) return null
        channels = u16le(b, i + 10)
        rate = u32le(b, i + 12)
        block = u16le(b, i + 20)
        bits = u16le(b, i + 22)
      } else if (fourcc(b, i, "data")) {
        dsize = size
      }
      i += 8 + size.toInt + (size & 1).toInt
    }
    if (rate <= 0 || channels <= 0 || bits <= 0 || block <= 0 || dsize < 0) return null
    new GenericInternalRow(Array[Any](WavFmt, rate.toInt, channels, bits, dsize / block))
  }

  val AdtsFmt: UTF8String = UTF8String.fromString("aac-adts")
  val OggFmt: UTF8String = UTF8String.fromString("ogg-vorbis")

  /** ADTS sampling_frequency_index table (ISO 14496-3 §1.6.3.4). */
  val AdtsRates: Array[Int] = Array(
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350)

  /** Structurally-valid AAC ADTS stream: `frames` frames, each a 7-byte
    * header (protection_absent=1, AAC-LC profile) plus `payloadLen`
    * filler bytes (0xAA) standing in for the raw_data_block — the
    * documented sample-decode boundary. No checksum anywhere
    * (protection_absent), so the oracle replays the whole stream
    * hex-wise. */
  def encodeAdts(sfi: Int, channels: Int, frames: Int, payloadLen: Int): Array[Byte] = {
    require(sfi >= 0 && sfi < AdtsRates.length, s"bad sampling_frequency_index $sfi")
    require(channels >= 1 && channels <= 7, s"bad channel_configuration $channels")
    require(frames >= 1 && payloadLen >= 0 && payloadLen <= 8184 - 7)
    val frameLen = 7 + payloadLen // 13-bit field includes the header
    val out = new Array[Byte](frames * frameLen)
    var f = 0
    while (f < frames) {
      val i = f * frameLen
      out(i) = 0xFF.toByte
      out(i + 1) = 0xF1.toByte // sync(4) | ID=0 | layer=00 | protection_absent=1
      out(i + 2) = ((1 << 6) | (sfi << 2) | ((channels >> 2) & 1)).toByte // profile AAC-LC
      out(i + 3) = (((channels & 3) << 6) | ((frameLen >> 11) & 3)).toByte
      out(i + 4) = ((frameLen >> 3) & 0xFF).toByte
      out(i + 5) = (((frameLen & 7) << 5) | 0x1F).toByte // fullness hi = 0x7FF (VBR)
      out(i + 6) = 0xFC.toByte // fullness lo | rdb-1 = 0
      var j = i + 7
      while (j < i + frameLen) { out(j) = 0xAA.toByte; j += 1 }
      f += 1
    }
    out
  }

  /** Parse an ADTS stream: struct(format, sample_rate, channels, profile,
    * frames, n_samples), or null when the bytes are not a consistent
    * syncword-aligned frame chain. A real frame walk: every frame's
    * syncword, header length (protection adds a 2-byte CRC), 13-bit
    * frame_length and raw-data-block count are honored; sfi/channels must
    * agree across frames (one stream, one config). 1024 samples per
    * raw_data_block (ISO 14496-3). */
  def parseAdts(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 7) return null
    var i = 0
    var sfi = -1; var channels = -1; var profile = -1
    var frames = 0L; var blocks = 0L
    while (i < b.length) {
      if (i + 7 > b.length) return null // truncated header
      if ((b(i) & 0xFF) != 0xFF || (b(i + 1) & 0xF6) != 0xF0) return null
      val protAbsent = b(i + 1) & 1
      val thisProfile = ((b(i + 2) >> 6) & 3) + 1 // MPEG-4 audioObjectType
      val thisSfi = (b(i + 2) >> 2) & 0xF
      val thisCh = ((b(i + 2) & 1) << 2) | ((b(i + 3) >> 6) & 3)
      val frameLen = ((b(i + 3) & 3) << 11) | ((b(i + 4) & 0xFF) << 3) | ((b(i + 5) >> 5) & 7)
      val headerLen = if (protAbsent == 1) 7 else 9
      if (thisSfi >= AdtsRates.length || thisCh == 0) return null
      if (frameLen < headerLen || i + frameLen > b.length) return null
      if (sfi < 0) { sfi = thisSfi; channels = thisCh; profile = thisProfile }
      else if (sfi != thisSfi || channels != thisCh || profile != thisProfile) return null
      frames += 1
      blocks += (b(i + 6) & 3) + 1
      i += frameLen
    }
    if (frames == 0) return null
    new GenericInternalRow(Array[Any](
      AdtsFmt, AdtsRates(sfi), channels, profile, frames, blocks * 1024L))
  }

  /** Ogg page CRC (RFC 3533 §6): CRC-32, polynomial 0x04C11DB7, MSB-first,
    * init 0, no final xor — NOT the zlib CRC. Computed over the whole page
    * with the checksum field zeroed. */
  private val oggCrcTable: Array[Int] = Array.tabulate(256) { n =>
    var r = n << 24
    var k = 0
    while (k < 8) {
      r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04C11DB7 else r << 1
      k += 1
    }
    r
  }

  def oggCrc(b: Array[Byte], from: Int, until: Int, skipFrom: Int, skipUntil: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      val byte = if (i >= skipFrom && i < skipUntil) 0 else b(i) & 0xFF
      crc = (crc << 8) ^ oggCrcTable(((crc >>> 24) ^ byte) & 0xFF)
      i += 1
    }
    crc
  }

  private def oggPage(headerType: Int, granule: Long, serial: Int, seq: Int,
                      packet: Array[Byte]): Array[Byte] = {
    // lacing: 255-valued segments plus the terminator (a multiple-of-255
    // packet needs the explicit 0 lacing value, RFC 3533 §5)
    val full = packet.length / 255
    val rest = packet.length % 255
    val nsegs = full + 1
    require(nsegs <= 255, "packet too long for one page")
    val out = new Array[Byte](27 + nsegs + packet.length)
    putTag(out, 0, "OggS") // capture pattern; version byte stays 0
    out(5) = headerType.toByte
    putU32le(out, 6, granule & 0xFFFFFFFFL)
    putU32le(out, 10, granule >>> 32)
    putU32le(out, 14, serial.toLong & 0xFFFFFFFFL)
    putU32le(out, 18, seq.toLong)
    // crc at 22..25 — filled last
    out(26) = nsegs.toByte
    var s = 0
    while (s < full) { out(27 + s) = 0xFF.toByte; s += 1 }
    out(27 + full) = rest.toByte
    System.arraycopy(packet, 0, out, 27 + nsegs, packet.length)
    putU32le(out, 22, oggCrc(out, 0, out.length, 22, 26).toLong & 0xFFFFFFFFL)
    out
  }

  /** Structurally-valid Ogg Vorbis stream: a BOS page carrying the real
    * 30-byte Vorbis identification header (packet type 1, "vorbis",
    * version 0, channels, rate, zeroed bitrates, 256/2048 blocksizes,
    * framing bit) and an EOS page whose granule position is the stream's
    * total PCM sample count, with `payloadLen` filler bytes (0xAA)
    * standing in for the audio packets — the documented sample-decode
    * boundary. Page CRCs are real RFC 3533 checksums. */
  def encodeOggVorbis(channels: Int, sampleRate: Int, totalSamples: Long,
                      payloadLen: Int, serial: Int): Array[Byte] = {
    require(channels >= 1 && channels <= 255 && sampleRate > 0 && totalSamples >= 0)
    val id = new Array[Byte](30)
    id(0) = 0x01
    putTag(id, 1, "vorb"); id(5) = 'i'.toByte; id(6) = 's'.toByte
    // version u32le stays 0
    id(11) = channels.toByte
    putU32le(id, 12, sampleRate.toLong)
    // bitrate max/nominal/min u32le stay 0
    id(28) = 0xB8.toByte // blocksizes 2^8 / 2^11
    id(29) = 0x01 // framing flag
    val audio = Array.fill[Byte](payloadLen)(0xAA.toByte)
    val p0 = oggPage(0x02, 0L, serial, 0, id) // BOS
    val p1 = oggPage(0x04, totalSamples, serial, 1, audio) // EOS
    val out = new Array[Byte](p0.length + p1.length)
    System.arraycopy(p0, 0, out, 0, p0.length)
    System.arraycopy(p1, 0, out, p0.length, p1.length)
    out
  }

  /** Parse an Ogg Vorbis stream: struct(format, sample_rate, channels,
    * pages, total_samples, serial), or null for non-Ogg bytes, a CRC
    * mismatch on any page, or a first packet that is not a Vorbis
    * identification header. A real page walk: capture pattern, version,
    * lacing-table page sizing and the RFC 3533 checksum are all
    * verified per page; total_samples is the last page's granule
    * position. */
  def parseOggVorbis(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 28) return null
    var i = 0
    var pages = 0L
    var serial = 0L; var rate = -1; var channels = -1; var granule = 0L
    while (i < b.length) {
      if (i + 27 > b.length || !fourcc(b, i, "OggS") || b(i + 4) != 0) return null
      val nsegs = b(i + 26) & 0xFF
      if (i + 27 + nsegs > b.length) return null
      var body = 0
      var s = 0
      while (s < nsegs) { body += b(i + 27 + s) & 0xFF; s += 1 }
      val pageLen = 27 + nsegs + body
      if (i + pageLen > b.length) return null
      val stored = u32le(b, i + 22)
      if ((oggCrc(b, i, i + pageLen, i + 22, i + 26).toLong & 0xFFFFFFFFL) != stored)
        return null
      if (pages == 0) {
        serial = u32le(b, i + 14)
        // first packet must be the Vorbis identification header
        val p = i + 27 + nsegs
        if (body < 30 || b(p) != 0x01 || !fourcc(b, p + 1, "vorb") ||
          b(p + 5) != 'i'.toByte || b(p + 6) != 's'.toByte || u32le(b, p + 7) != 0L)
          return null
        channels = b(p + 11) & 0xFF
        rate = u32le(b, p + 12).toInt
        if (channels == 0 || rate <= 0) return null
      } else if (u32le(b, i + 14) != serial) return null // one logical stream
      granule = u32le(b, i + 6) | (u32le(b, i + 10) << 32)
      pages += 1
      i += pageLen
    }
    if (pages == 0) return null
    new GenericInternalRow(Array[Any](OggFmt, rate, channels, pages, granule, serial))
  }

  /** Parse MP4 metadata: struct(format, brand, timescale, duration), or
    * null when the bytes are not a leading-`ftyp` ISO BMFF stream with a
    * `moov`/`mvhd`. Handles mvhd versions 0 and 1; rejects desynchronized
    * or truncated box chains. */
  def parseMp4(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 16) return null
    if (u32be(b, 0) < 16 || !fourcc(b, 4, "ftyp")) return null
    val brand = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, 8, 12))
    var i = 0
    while (i + 8 <= b.length) {
      val size = u32be(b, i)
      if (size == 1 || size < 8 || i + size > b.length) return null // 64-bit/invalid
      if (fourcc(b, i + 4, "moov")) {
        var j = i + 8
        val end = i + size
        while (j + 8 <= end) {
          val s2 = u32be(b, j)
          if (s2 < 8 || j + s2 > end) return null
          if (fourcc(b, j + 4, "mvhd")) {
            if (s2 < 12) return null
            val ver = b(j + 8) & 0xFF
            if (ver == 0 && s2 >= 32) {
              return new GenericInternalRow(Array[Any](
                Mp4Fmt, brand, u32be(b, j + 20).toInt, u32be(b, j + 24)))
            } else if (ver == 1 && s2 >= 44) {
              return new GenericInternalRow(Array[Any](
                Mp4Fmt, brand, u32be(b, j + 28).toInt, u64be(b, j + 32)))
            } else return null
          }
          j += s2.toInt
        }
        return null // moov without mvhd
      }
      i += size.toInt
    }
    null
  }
}

/** A one-call static kernel bound as a Catalyst expression: Spark's
  * codegen'd `StaticInvoke` of `obj.method(args)`, so the kernel runs
  * inside the generated code, not behind a UDF. SQL arguments are
  * implicitly cast to `inputTypes`, the column form casts each argument
  * explicitly, and a null argument gives null. Only a parser
  * (`mayReturnNull`) returns null itself, for a buffer it cannot read. */
private[functions] final case class Kernel(obj: AnyRef, method: String,
    inputTypes: Seq[DataType], dataType: DataType, mayReturnNull: Boolean) {
  def expr(args: Seq[Expression]): Expression =
    StaticInvoke(obj.getClass, dataType, method, args, inputTypes,
      returnNullable = mayReturnNull)

  def apply(args: Column*): Column =
    bridge.column(expr(args.zip(inputTypes).map { case (c, t) => bridge.expression(c.cast(t)) }))
}

private[functions] object Kernel {
  def encoder(obj: AnyRef, method: String, inputTypes: DataType*): Kernel =
    Kernel(obj, method, inputTypes, BinaryType, mayReturnNull = false)

  def parser(obj: AnyRef, method: String, fields: (String, DataType)*): Kernel =
    Kernel(obj, method, Seq(BinaryType), struct(fields: _*), mayReturnNull = true)

  def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (name, t) => StructField(name, t) })
}

/** Column-level entry points; the `private[functions]` kernels are also
  * the SQL functions [[GraftExtensions]] registers. */
object MediaFunctions {
  import Kernel.{encoder, parser}
  private val I = IntegerType
  private val L = LongType

  private[functions] val wavEncode = encoder(MediaCodecUtil, "encodeWav", I, I, I, I, I)
  private[functions] val wavParse = parser(MediaCodecUtil, "parseWav", "format" -> StringType,
    "sample_rate" -> I, "channels" -> I, "bits" -> I, "n_samples" -> L)
  private[functions] val mp4Encode = encoder(MediaCodecUtil, "encodeMp4", I, L, I)
  private[functions] val mp4Parse = parser(MediaCodecUtil, "parseMp4", "format" -> StringType,
    "brand" -> StringType, "timescale" -> I, "duration" -> L)
  private val adtsEncode = encoder(MediaCodecUtil, "encodeAdts", I, I, I, I)
  private val adtsParse = parser(MediaCodecUtil, "parseAdts", "format" -> StringType,
    "sample_rate" -> I, "channels" -> I, "profile" -> I, "frames" -> L, "n_samples" -> L)
  private val oggEncode = encoder(MediaCodecUtil, "encodeOggVorbis", I, I, L, I, I)
  private val oggParse = parser(MediaCodecUtil, "parseOggVorbis", "format" -> StringType,
    "sample_rate" -> I, "channels" -> I, "pages" -> L, "total_samples" -> L, "serial" -> L)
  private val flacRoundtrip = Kernel(FlacCodecUtil, "synthRoundtrip", Seq(L, I, I, I),
    Kernel.struct("format" -> StringType, "sample_rate" -> I, "channels" -> I, "bits" -> I,
      "total_samples" -> L, "sum_s" -> L, "min_s" -> L, "max_s" -> L, "wsum_s" -> L,
      "roundtrip_ok" -> BooleanType), mayReturnNull = false)

  /** Synthesize WAV bytes from (sample_rate, channels, bits, n_samples,
    * pad) int columns. */
  def audioBytes(sampleRate: Column, channels: Column, bits: Column,
                 nSamples: Column, pad: Column): Column =
    wavEncode(sampleRate, channels, bits, nSamples, pad)

  /** Parse WAV bytes → struct(format, sample_rate, channels, bits,
    * n_samples); null for unrecognizable buffers (RIFF chunk walk). */
  def audioMeta(bytes: Column): Column = wavParse(bytes)

  /** Synthesize MP4 bytes from (timescale, duration, pad) columns. */
  def videoBytes(timescale: Column, duration: Column, pad: Column): Column =
    mp4Encode(timescale, duration, pad)

  /** Parse MP4 bytes → struct(format, brand, timescale, duration); null
    * for unrecognizable buffers (ISO BMFF box walk). */
  def videoMeta(bytes: Column): Column = mp4Parse(bytes)

  /** Synthesize an AAC ADTS stream from (sampling_frequency_index,
    * channels, frames, payload_len) int columns. */
  def adtsBytes(sfi: Column, channels: Column, frames: Column,
                payloadLen: Column): Column =
    adtsEncode(sfi, channels, frames, payloadLen)

  /** Parse ADTS bytes → struct(format, sample_rate, channels, profile,
    * frames, n_samples); null for non-ADTS buffers (frame walk). */
  def adtsMeta(bytes: Column): Column = adtsParse(bytes)

  /** Synthesize an Ogg Vorbis stream (real RFC 3533 page CRCs) from
    * (channels, sample_rate, total_samples, payload_len, serial) columns. */
  def oggVorbisBytes(channels: Column, sampleRate: Column, totalSamples: Column,
                     payloadLen: Column, serial: Column): Column =
    oggEncode(channels, sampleRate, totalSamples, payloadLen, serial)

  /** Parse Ogg Vorbis bytes → struct(format, sample_rate, channels,
    * pages, total_samples, serial); null for non-Ogg buffers or any page
    * CRC mismatch (page walk). */
  def oggMeta(bytes: Column): Column = oggParse(bytes)

  /** FLAC encode→decode roundtrip probe over the deterministic sawtooth
    * (seed, n, step, rate) → struct(format, sample_rate, channels, bits,
    * total_samples, sum_s, min_s, max_s, wsum_s, roundtrip_ok); see
    * [[FlacCodecUtil.synthRoundtrip]]. */
  def flacProbe(seed: Column, n: Column, step: Column, rate: Column): Column =
    flacRoundtrip(seed, n, step, rate)
}
