package graft.operators

/** Container-header metadata parsers for the media kinds the JDK has no
  * codec for — pure-JVM byte parsing of PUBLIC container formats (ISO
  * BMFF / Matroska EBML / MP3 frame headers / OGG pages / FLAC
  * STREAMINFO), the same class of work as the WAV RIFF parser
  * (javax.sound) and the zip central-directory parser
  * ([[graft.sources.v2.CentralDirectory]]). No codec payload is ever
  * decoded — cost is O(header), not O(media).
  *
  * Every parser is total: `None` on anything it does not fully
  * recognize, so callers can fall back (to [[Multimodal.MediaBatch
  * .decodeStub]]) instead of throwing inside a task.
  */
object MediaHeaders {

  final case class VideoMeta(width: Int, height: Int, nFrames: Int)
  final case class AudioMeta(sampleRate: Int, channels: Int, frames: Long)

  // ---- shared big-endian readers ----
  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xFF
  private def u16(b: Array[Byte], o: Int): Int = (u8(b, o) << 8) | u8(b, o + 1)
  private def u24(b: Array[Byte], o: Int): Int = (u16(b, o) << 8) | u8(b, o + 2)
  private def u32(b: Array[Byte], o: Int): Long =
    (u24(b, o).toLong << 8) | u8(b, o + 3)
  private def u64(b: Array[Byte], o: Int): Long =
    (u32(b, o) << 32) | u32(b, o + 4)
  private def leU32(b: Array[Byte], o: Int): Long =
    u8(b, o).toLong | (u8(b, o + 1).toLong << 8) |
      (u8(b, o + 2).toLong << 16) | (u8(b, o + 3).toLong << 24)
  private def leU64(b: Array[Byte], o: Int): Long =
    leU32(b, o) | (leU32(b, o + 4) << 32)

  // ================= MP4 / ISO base media (mp4, m4v, mov) =============
  //
  // Box grammar (ISO 14496-12 §4.2): [size u32][type 4cc][body]; size==1
  // means a u64 largesize follows; size==0 means "to end of file".
  // Containers relevant to metadata: moov > trak > mdia > minf > stbl.

  /** Walk the direct children of byte range [from, to). */
  private def mp4Children(b: Array[Byte], from: Long, to: Long): Seq[(String, Long, Long)] = {
    val out = Seq.newBuilder[(String, Long, Long)]
    var o = from
    while (o + 8 <= to) {
      val size0 = u32(b, o.toInt)
      val typ = new String(b, o.toInt + 4, 4, "ISO-8859-1")
      val (bodyStart, boxEnd) =
        if (size0 == 1L && o + 16 <= to) (o + 16, o + u64(b, o.toInt + 8))
        else if (size0 == 0L) (o + 8, to)
        else (o + 8, o + size0)
      if (boxEnd <= o || boxEnd > to) return out.result() // corrupt size
      out += ((typ, bodyStart, boxEnd))
      o = boxEnd
    }
    out.result()
  }

  private def mp4Find(b: Array[Byte], from: Long, to: Long,
                      path: List[String]): Option[(Long, Long)] = path match {
    case Nil => Some((from, to))
    case head :: rest =>
      mp4Children(b, from, to).collectFirst {
        case (t, s, e) if t == head => (s, e)
      }.flatMap { case (s, e) => mp4Find(b, s, e, rest) }
  }

  /** (width, height) from a tkhd box body: 16.16 fixed-point at the end
    * of the fixed layout (v0: offsets 76/80; v1: 88/92 — the version-1
    * times are 64-bit). */
  private def tkhdDims(b: Array[Byte], s: Long, e: Long): Option[(Int, Int)] = {
    if (e - s < 84) return None
    val version = u8(b, s.toInt)
    val wOff = if (version == 1) 88 else 76
    if (e - s < wOff + 8) return None
    val w = (u32(b, s.toInt + wOff) >> 16).toInt
    val h = (u32(b, s.toInt + wOff + 4) >> 16).toInt
    if (w > 0 && h > 0) Some((w, h)) else None
  }

  /** mp4 video metadata: dimensions from the video trak's tkhd, frame
    * count from the same trak's stbl/stsz sample_count (every video
    * sample is one frame). The video trak is the one whose tkhd carries
    * nonzero dimensions (audio traks have 0×0). */
  def mp4(bytes: Array[Byte]): Option[VideoMeta] = {
    if (bytes.length < 16) return None
    val top = mp4Children(bytes, 0L, bytes.length.toLong)
    // an ISO-BMFF file leads with ftyp (or styp for segments)
    if (!top.headOption.exists(t => t._1 == "ftyp" || t._1 == "styp")) return None
    val moov = top.collectFirst { case ("moov", s, e) => (s, e) }
    moov.flatMap { case (ms, me) =>
      val traks = mp4Children(bytes, ms, me).filter(_._1 == "trak")
      traks.flatMap { case (_, ts, te) =>
        for {
          (ths, the) <- mp4Find(bytes, ts, te, List("tkhd"))
          (w, h) <- tkhdDims(bytes, ths, the)
        } yield {
          val nFrames = mp4Find(bytes, ts, te, List("mdia", "minf", "stbl", "stsz"))
            .collect { case (ss, se) if se - ss >= 12 => u32(bytes, ss.toInt + 8).toInt }
            .filter(_ > 0).getOrElse(1)
          VideoMeta(w, h, nFrames)
        }
      }.headOption
    }
  }

  /** The per-sample byte ranges of the first trak whose stsd sample
    * entry is baseline JPEG ('jpeg' — QuickTime/ISO photo-JPEG, one
    * standalone T.81 image per sample), recovered by the real sample-
    * table walk (ISO 14496-12 §8.5-8.7): stsz gives each sample's
    * size, stco the chunk offsets, stsc the (first_chunk,
    * samples_per_chunk) run-length map; sample k's offset is its
    * chunk's offset plus the sizes of the samples before it in that
    * chunk. Total: None when any table is malformed, counts disagree,
    * or a recovered range leaves the buffer — never a partial frame
    * list ([[Multimodal.aviFrames]] contract). */
  def mp4JpegSamples(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (bytes.length < 16) return None
    val top = mp4Children(bytes, 0L, bytes.length.toLong)
    if (!top.headOption.exists(t => t._1 == "ftyp" || t._1 == "styp"))
      return None
    val moov = top.collectFirst { case ("moov", s, e) => (s, e) }
      .getOrElse(return None)
    val traks = mp4Children(bytes, moov._1, moov._2).filter(_._1 == "trak")
    traks.iterator.map { case (_, ts, te) =>
      mp4Find(bytes, ts, te, List("mdia", "minf", "stbl")).flatMap {
        case (ss, se) =>
          val kids = mp4Children(bytes, ss, se)
          def box(name: String): Option[(Long, Long)] =
            kids.collectFirst { case (t, s, e) if t == name => (s, e) }
          for {
            (sdS, sdE) <- box("stsd")
            if sdE - sdS >= 16 && u32(bytes, sdS.toInt + 4) >= 1 &&
              new String(bytes, sdS.toInt + 12, 4, "ISO-8859-1") == "jpeg"
            (szS, szE) <- box("stsz")
            if szE - szS >= 12
            (scS, scE) <- box("stsc")
            if scE - scS >= 8
            (coS, coE) <- box("stco")
            if coE - coS >= 8
            samples <- mp4WalkSamples(bytes, szS, szE, scS, scE, coS, coE)
          } yield samples
      }
    }.collectFirst { case Some(s) => s }
  }

  /** The stsz/stsc/stco walk shared logic of [[mp4JpegSamples]]. */
  private def mp4WalkSamples(b: Array[Byte], szS: Long, szE: Long,
      scS: Long, scE: Long, coS: Long, coE: Long)
      : Option[Seq[Array[Byte]]] = {
    val uniform = u32(b, szS.toInt + 4)
    val nSamples = u32(b, szS.toInt + 8)
    if (nSamples <= 0 || nSamples > Int.MaxValue) return None
    if (uniform == 0 && szE - szS < 12 + 4L * nSamples) return None
    def sampleSize(k: Int): Long =
      if (uniform != 0) uniform else u32(b, (szS + 12 + 4L * k).toInt)
    val nChunks = u32(b, coS.toInt + 4)
    if (nChunks <= 0 || coE - coS < 8 + 4L * nChunks) return None
    val nRuns = u32(b, scS.toInt + 4)
    if (nRuns <= 0 || scE - scS < 8 + 12L * nRuns) return None
    // samples-per-chunk for chunk c (1-based): the run with the
    // greatest first_chunk <= c
    val runs = (0 until nRuns.toInt).map { r =>
      val o = (scS + 8 + 12L * r).toInt
      (u32(b, o), u32(b, o + 4)) // (first_chunk, samples_per_chunk)
    }
    if (runs.exists(_._1 <= 0) ||
        runs.map(_._1) != runs.map(_._1).sorted) return None
    val out = Seq.newBuilder[Array[Byte]]
    var k = 0
    var chunk = 1L
    while (k < nSamples && chunk <= nChunks) {
      val spc = runs.takeWhile(_._1 <= chunk).lastOption
        .map(_._2).getOrElse(return None)
      if (spc <= 0) return None
      var off = u32(b, (coS + 8 + 4L * (chunk - 1)).toInt)
      var j = 0L
      while (j < spc && k < nSamples) {
        val sz = sampleSize(k)
        if (sz <= 0 || off + sz > b.length) return None
        out += java.util.Arrays.copyOfRange(b, off.toInt, (off + sz).toInt)
        off += sz
        j += 1; k += 1
      }
      chunk += 1
    }
    // every declared sample must be recovered — a truncated chunk
    // table keeping whole leading frames is the silent-partial hazard
    if (k.toLong != nSamples) None else Some(out.result())
  }

  // ================= Matroska / WebM (EBML) ===========================
  //
  // EBML varints: leading zero bits of the first byte give the width;
  // IDs keep the marker bit, sizes clear it. All-ones size = unknown
  // (stream to end).

  /** (value, bytesConsumed); keepMarker for element IDs. */
  private def ebmlVint(b: Array[Byte], o: Int, keepMarker: Boolean): Option[(Long, Int)] = {
    if (o >= b.length) return None
    val first = u8(b, o)
    if (first == 0) return None
    val len = Integer.numberOfLeadingZeros(first) - 23 // 32-bit minus 8-bit, +1
    if (len < 1 || len > 8 || o + len > b.length) return None
    var v: Long = if (keepMarker) first.toLong else (first & (0xFF >>> len)).toLong
    var i = 1
    while (i < len) { v = (v << 8) | u8(b, o + i); i += 1 }
    Some((v, len))
  }

  /** Direct children of [from,to): (id, bodyStart, bodyEnd). */
  private def ebmlChildren(b: Array[Byte], from: Int, to: Int): Seq[(Long, Int, Int)] = {
    val out = Seq.newBuilder[(Long, Int, Int)]
    var o = from
    var ok = true
    while (ok && o < to) {
      val step = for {
        (id, idLen) <- ebmlVint(b, o, keepMarker = true)
        (size, szLen) <- ebmlVint(b, o + idLen, keepMarker = false)
        bodyStart = o + idLen + szLen
        // all-marker-bits size = unknown length → runs to container end
        unknown = size == (1L << (7 * szLen)) - 1
        // a declared size beyond the remaining bytes is corrupt; reject it
        // BEFORE .toInt — a >2^31 size would otherwise truncate to a small
        // positive value and yield a plausible-but-wrong body range
        if unknown || size <= (to - bodyStart).toLong
      } yield {
        val bodyEnd = if (unknown) to else bodyStart + size.toInt
        (id, bodyStart, math.min(bodyEnd, to))
      }
      step match {
        case Some((id, s, e)) if e >= s => out += ((id, s, e)); o = e
        case _ => ok = false
      }
    }
    out.result()
  }

  private def ebmlUInt(b: Array[Byte], s: Int, e: Int): Long = {
    var v = 0L; var i = s
    while (i < e) { v = (v << 8) | u8(b, i); i += 1 }
    v
  }

  private def ebmlFloat(b: Array[Byte], s: Int, e: Int): Option[Double] = (e - s) match {
    case 4 => Some(java.lang.Float.intBitsToFloat(u32(b, s).toInt).toDouble)
    case 8 => Some(java.lang.Double.longBitsToDouble(u64(b, s)))
    case _ => None
  }

  private val EbmlHeader = 0x1A45DFA3L
  private val Segment = 0x18538067L
  private val InfoE = 0x1549A966L
  private val TimestampScale = 0x2AD7B1L
  private val DurationE = 0x4489L
  private val TracksE = 0x1654AE6BL
  private val TrackEntry = 0xAEL
  private val DefaultDuration = 0x23E383L
  private val VideoE = 0xE0L
  private val PixelWidth = 0xB0L
  private val PixelHeight = 0xBAL

  /** Matroska/WebM video metadata: PixelWidth/PixelHeight from the
    * first TrackEntry carrying a Video element; frame count estimated
    * as Info.Duration (in TimestampScale ns ticks) over the track's
    * DefaultDuration (ns per frame) when both are present, else 1. */
  def matroska(bytes: Array[Byte]): Option[VideoMeta] = {
    val top = ebmlChildren(bytes, 0, bytes.length)
    if (!top.exists(_._1 == EbmlHeader)) return None
    val seg = top.collectFirst { case (Segment, s, e) => (s, e) }
    seg.flatMap { case (ss, se) =>
      val segKids = ebmlChildren(bytes, ss, se)
      val videoTrack = segKids.collectFirst { case (TracksE, ts, te) => (ts, te) }
        .toSeq.flatMap { case (ts, te) => ebmlChildren(bytes, ts, te) }
        .collect { case (TrackEntry, s, e) => (s, e) }
        .flatMap { case (s, e) =>
          val kids = ebmlChildren(bytes, s, e)
          kids.collectFirst { case (VideoE, vs, ve) => (vs, ve) }.map { case (vs, ve) =>
            val vkids = ebmlChildren(bytes, vs, ve)
            val w = vkids.collectFirst { case (PixelWidth, a, b2) => ebmlUInt(bytes, a, b2) }
            val h = vkids.collectFirst { case (PixelHeight, a, b2) => ebmlUInt(bytes, a, b2) }
            val dd = kids.collectFirst { case (DefaultDuration, a, b2) => ebmlUInt(bytes, a, b2) }
            (w, h, dd)
          }
        }.headOption
      videoTrack.flatMap {
        case (Some(w), Some(h), defaultDur) if w > 0 && h > 0 =>
          val info = segKids.collectFirst { case (InfoE, is, ie) => (is, ie) }
          val nFrames = (for {
            (is, ie) <- info
            ikids = ebmlChildren(bytes, is, ie)
            dur <- ikids.collectFirst { case (DurationE, a, b2) => ebmlFloat(bytes, a, b2) }.flatten
            dd <- defaultDur if dd > 0
          } yield {
            val scale = ikids.collectFirst {
              case (TimestampScale, a, b2) => ebmlUInt(bytes, a, b2)
            }.getOrElse(1000000L) // spec default: 1 ms ticks
            math.max(1L, math.round(dur * scale / dd)).toInt
          }).getOrElse(1)
          Some(VideoMeta(w.toInt, h.toInt, nFrames))
        case _ => None
      }
    }
  }

  private val ClusterE = 0x1F43B675L
  private val SimpleBlockE = 0xA3L
  private val TrackNumberE = 0xD7L
  private val CodecIDE = 0x86L

  /** The per-frame JPEG payloads of a Matroska V_MJPEG video track
    * (each SimpleBlock carries one standalone baseline JPEG — the MJPEG
    * mapping): Tracks is walked for the video TrackEntry whose CodecID
    * is exactly "V_MJPEG" (any other codec → None, header-only), then
    * every Cluster's SimpleBlocks for that track number yield their
    * payload after the (track vint, s16 timestamp, flags) block header.
    * LACED blocks are a loud None — decoding lacing wrong would emit
    * concatenated frames as one; the fixture and real MJPEG muxers use
    * one frame per block. Same total contract as [[mp4JpegSamples]]. */
  def matroskaJpegFrames(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    val top = ebmlChildren(bytes, 0, bytes.length)
    if (!top.exists(_._1 == EbmlHeader)) return None
    val seg = top.collectFirst { case (Segment, s, e) => (s, e) }
      .getOrElse(return None)
    val segKids = ebmlChildren(bytes, seg._1, seg._2)
    val trackNum = segKids
      .collectFirst { case (TracksE, ts, te) => (ts, te) }
      .toSeq.flatMap { case (ts, te) => ebmlChildren(bytes, ts, te) }
      .collect { case (TrackEntry, s, e) => ebmlChildren(bytes, s, e) }
      .collectFirst {
        case kids if kids.exists(_._1 == VideoE) &&
          kids.collectFirst { case (CodecIDE, a, b2) =>
            new String(bytes, a, b2 - a, "ISO-8859-1")
          }.contains("V_MJPEG") =>
          kids.collectFirst { case (TrackNumberE, a, b2) =>
            ebmlUInt(bytes, a, b2) }
      }.flatten.getOrElse(return None)
    val out = Seq.newBuilder[Array[Byte]]
    for ((cid, cs, ce) <- segKids if cid == ClusterE;
         (bid, s, e) <- ebmlChildren(bytes, cs, ce) if bid == SimpleBlockE) {
      ebmlVint(bytes, s, keepMarker = false) match {
        case Some((tn, tLen)) if tn == trackNum =>
          val payload = s + tLen + 3 // s16 rel-timestamp + flags byte
          if (payload > e) return None
          if ((u8(bytes, s + tLen + 2) & 0x06) != 0) return None // laced
          out += java.util.Arrays.copyOfRange(bytes, payload, e)
        case Some(_) => () // another track's block
        case None => return None
      }
    }
    val frames = out.result()
    if (frames.isEmpty) None else Some(frames)
  }

  // ================= MP3 (MPEG-1/2 Layer III frame headers) ===========

  private val BitrateV1L3 = // kbps, index 1-14 (0=free, 15=bad)
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val BitrateV2L3 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val RateV1 = Array(44100, 48000, 32000)
  private val RateV2 = Array(22050, 24000, 16000)
  private val RateV25 = Array(11025, 12000, 8000)

  /** MP3 audio metadata from the first Layer-III frame header after any
    * ID3v2 tag: (rate, channels) from the header fields; frame count
    * estimated from stream length over the fixed per-frame byte length
    * (CBR assumption — the honest fast answer without walking every
    * frame; VBR files are approximated by their first frame's rate). */
  def mp3(bytes: Array[Byte]): Option[AudioMeta] = {
    var o = 0
    // ID3v2: "ID3" + ver(2) + flags(1) + syncsafe u28 size, then tag body
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val size = (u8(bytes, 6) << 21) | (u8(bytes, 7) << 14) |
        (u8(bytes, 8) << 7) | u8(bytes, 9)
      o = 10 + size
    }
    if (o + 4 > bytes.length) return None
    val b1 = u8(bytes, o); val b2 = u8(bytes, o + 1)
    val b3 = u8(bytes, o + 2); val b4 = u8(bytes, o + 3)
    if (b1 != 0xFF || (b2 & 0xE0) != 0xE0) return None
    val versionBits = (b2 >> 3) & 0x3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    val layerBits = (b2 >> 1) & 0x3   // 1=Layer III
    if (layerBits != 1 || versionBits == 1) return None
    val brIdx = (b3 >> 4) & 0xF
    val srIdx = (b3 >> 2) & 0x3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
    val padding = (b3 >> 1) & 0x1
    val channels = if (((b4 >> 6) & 0x3) == 3) 1 else 2
    val (bitrate, rate, samplesPerFrame) = versionBits match {
      case 3 => (BitrateV1L3(brIdx) * 1000, RateV1(srIdx), 1152)
      case 2 => (BitrateV2L3(brIdx) * 1000, RateV2(srIdx), 576)
      case _ => (BitrateV2L3(brIdx) * 1000, RateV25(srIdx), 576)
    }
    val frameLen = samplesPerFrame / 8 * bitrate / rate + padding
    if (frameLen <= 0) return None
    val nFrames = math.max(1L, ((bytes.length - o).toLong / frameLen))
    Some(AudioMeta(rate, channels, nFrames * samplesPerFrame))
  }

  // ================= OGG (Vorbis / Opus) ==============================

  /** OGG audio metadata: (rate, channels) from the identification
    * packet on the first page (`\x01vorbis` or `OpusHead`); total
    * sample count from the LAST page's granule position (for Opus the
    * granule clock is fixed 48 kHz per RFC 7845 — reported against the
    * 48 kHz rate so rate×seconds stays consistent). */
  def ogg(bytes: Array[Byte]): Option[AudioMeta] = {
    if (bytes.length < 58 || !hasMagic(bytes, 0, "OggS")) return None
    val nSegs = u8(bytes, 26)
    val packetStart = 27 + nSegs
    if (packetStart + 19 > bytes.length) return None
    // last granule: scan backwards for the final VALID page header — the
    // raw "OggS" pattern can occur inside packet payload, so each
    // candidate must also pass the structural checks in [[lastOggPage]]
    val lastPage = lastOggPage(bytes)
    val granule = if (lastPage >= 0) leU64(bytes, lastPage + 6) else 0L
    if (u8(bytes, packetStart) == 1 && hasMagic(bytes, packetStart + 1, "vorbis")) {
      val channels = u8(bytes, packetStart + 11)
      val rate = leU32(bytes, packetStart + 12).toInt
      if (rate <= 0 || channels <= 0) None
      else Some(AudioMeta(rate, channels, math.max(0L, granule)))
    } else if (hasMagic(bytes, packetStart, "OpusHead")) {
      val channels = u8(bytes, packetStart + 9)
      if (channels <= 0) None
      else Some(AudioMeta(48000, channels, math.max(0L, granule)))
    } else if (u8(bytes, packetStart) == 0x7F &&
               hasMagic(bytes, packetStart + 1, "FLAC")) {
      // Ogg-FLAC mapping: the native fLaC magic + STREAMINFO begin at
      // packet offset 9 — the existing [[flac]] parser reads them
      // verbatim (total samples from STREAMINFO, exact; the granule
      // duplicates it for well-formed streams)
      if (packetStart + 9 + 42 > bytes.length) None
      else flac(java.util.Arrays.copyOfRange(
        bytes, packetStart + 9, math.min(bytes.length, packetStart + 9 + 64)))
    } else None
  }

  // ================= FLAC (STREAMINFO) ================================

  /** FLAC audio metadata from the mandatory first STREAMINFO block:
    * sample rate (20 bits), channels-1 (3 bits), total samples (36
    * bits) — bit-packed at body offset 10 (ISO/IEC-free public spec,
    * xiph.org/flac/format.html). */
  def flac(bytes: Array[Byte]): Option[AudioMeta] = {
    if (bytes.length < 42 || !hasMagic(bytes, 0, "fLaC")) return None
    val blockType = u8(bytes, 4) & 0x7F
    val blockLen = u24(bytes, 5)
    if (blockType != 0 || blockLen < 34) return None
    val b = 8 + 10 // block body + fixed blocksize/framesize fields
    val packed = u64(bytes, b) // rate(20) ch(3) bps(5) total(36)
    val rate = (packed >>> 44).toInt
    val channels = ((packed >>> 41) & 0x7).toInt + 1
    val total = packed & 0xFFFFFFFFFL
    if (rate <= 0) None else Some(AudioMeta(rate, channels, total))
  }

  // ================= AVI (RIFF) =======================================

  /** AVI video metadata from the AVIMAINHEADER (Microsoft's public
    * 'AVI RIFF File Reference'): 'RIFF' size 'AVI ' + LIST hdrl whose
    * avih chunk carries dwTotalFrames at body offset 16, dwWidth at
    * 32, dwHeight at 36 — all little-endian. Header-only: frame
    * chunks are never touched (see
    * [[Multimodal.aviFrames]] for the uncompressed-DIB frame
    * decoder). Chunks are word-aligned (odd sizes pad one byte). */
  def avi(bytes: Array[Byte]): Option[VideoMeta] = {
    if (bytes.length < 12 || !hasMagic(bytes, 0, "RIFF") ||
        !hasMagic(bytes, 8, "AVI ")) return None
    var o = 12
    while (o + 8 <= bytes.length) {
      val sz = leU32(bytes, o + 4)
      if (hasMagic(bytes, o, "LIST") && hasMagic(bytes, o + 8, "hdrl")) {
        var p = o + 12
        val end = math.min(bytes.length.toLong, o + 8 + sz).toInt
        while (p + 8 <= end) {
          val csz = leU32(bytes, p + 4)
          if (hasMagic(bytes, p, "avih") && p + 8 + 40 <= end)
            return Some(VideoMeta(
              width = leU32(bytes, p + 8 + 32).toInt,
              height = leU32(bytes, p + 8 + 36).toInt,
              nFrames = leU32(bytes, p + 8 + 16).toInt))
          // csz is an UNTRUSTED u32: stepping in Int truncates huge
          // sizes to a zero/negative stride (hang or AIOOBE). Step in
          // Long and bail on any non-advancing next offset — the same
          // corrupt-size guard mp4Children applies via `boxEnd <= o`.
          val next = p + 8L + csz + (csz & 1L)
          if (next <= p || next > end) return None
          p = next.toInt
        }
        return None
      }
      val next = o + 8L + sz + (sz & 1L)
      if (next <= o || next > bytes.length) return None
      o = next.toInt
    }
    None
  }

  /** The '00db' (uncompressed DIB) frame chunk bodies inside LIST
    * movi, in stream order — the raw-video sibling of [[avi]]; each
    * body is bottom-up 24-bit BGR rows padded to 4-byte boundaries.
    * Empty when the container is not RIFF/AVI or has no movi list. */
  def aviDibFrames(bytes: Array[Byte]): Seq[Array[Byte]] =
    aviStreamChunks(bytes, "00db")

  /** Stream-0 frame chunk bodies of the given fourcc inside LIST movi,
    * in stream order — '00db' carries uncompressed DIB frames, '00dc'
    * compressed ones (MJPEG when the strh handler is MJPG; each body
    * is then a standalone baseline JPEG for [[Jpeg.dcLuma]]). */
  def aviStreamChunks(bytes: Array[Byte], fourcc: String): Seq[Array[Byte]] = {
    if (bytes.length < 12 || !hasMagic(bytes, 0, "RIFF") ||
        !hasMagic(bytes, 8, "AVI ")) return Nil
    val out = Seq.newBuilder[Array[Byte]]
    var o = 12
    while (o + 8 <= bytes.length) {
      val sz = leU32(bytes, o + 4)
      if (hasMagic(bytes, o, "LIST") && hasMagic(bytes, o + 8, "movi")) {
        var p = o + 12
        val end = math.min(bytes.length.toLong, o + 8 + sz).toInt
        while (p + 8 <= end) {
          val csz = leU32(bytes, p + 4)
          if (hasMagic(bytes, p, fourcc) && p + 8 + csz <= end)
            out += java.util.Arrays.copyOfRange(bytes, p + 8, (p + 8 + csz).toInt)
          // untrusted-u32 stride guard (see avi()): stop the walk on a
          // non-advancing next offset instead of hanging/crashing
          val next = p + 8L + csz + (csz & 1L)
          p = if (next <= p || next > end) end else next.toInt
        }
      }
      val next = o + 8L + sz + (sz & 1L)
      if (next <= o || next > bytes.length) return out.result()
      o = next.toInt
    }
    out.result()
  }

  // ================= Ogg page/packet walk (RFC 3533) ==================

  /** Ogg page CRC-32: poly 0x04c11db7, init 0, NOT reflected, no final
    * xor (RFC 3533 §6 — deliberately not the zlib CRC), computed over
    * the whole page with the 4 CRC bytes zeroed. */
  private val oggCrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r; i += 1
    }
    t
  }

  private def oggPageCrc(b: Array[Byte], off: Int, len: Int): Long = {
    var r = 0
    var i = 0
    while (i < len) {
      val v = if (i >= 22 && i < 26) 0 else b(off + i) & 0xFF
      r = (r << 8) ^ oggCrcTable(((r >>> 24) ^ v) & 0xFF)
      i += 1
    }
    r.toLong & 0xFFFFFFFFL
  }

  /** The logical packets of a single Ogg stream, by the sequential
    * page walk: capture pattern + version 0 + defined-flags-only on
    * EVERY page, page CRC VERIFIED (a payload bit flip is loud, not a
    * wrong decode), lacing values reassembled across page boundaries
    * (255 continues a packet, <255 terminates; the continued-packet
    * flag must agree with the walk state), first page must carry BOS
    * and the stream must END on an EOS page with no dangling partial
    * packet and no trailing bytes — the total-parser contract: None,
    * never a truncated packet list. Every page's serial number must
    * match the BOS page's: a multiplexed/grouped Ogg file (several
    * logical streams, RFC 3533 §4) would otherwise pass the flag
    * checks — a mid-stream BOS carries only 0x02 — and interleave
    * foreign packets into the list. */
  def oggPackets(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    val out = Seq.newBuilder[Array[Byte]]
    val cur = new java.io.ByteArrayOutputStream()
    var inPacket = false
    var first = true
    var sawEos = false
    var serial = 0L
    var o = 0L
    while (o + 27 <= bytes.length && !sawEos) {
      val p = o.toInt
      if (!hasMagic(bytes, p, "OggS") || u8(bytes, p + 4) != 0 ||
          (u8(bytes, p + 5) & ~0x07) != 0) return None
      val htype = u8(bytes, p + 5)
      if (first && (htype & 0x02) == 0) return None
      if (first) serial = leU32(bytes, p + 14)
      else if (leU32(bytes, p + 14) != serial) return None
      if (((htype & 0x01) != 0) != inPacket) return None
      val nSegs = u8(bytes, p + 26)
      if (p + 27 + nSegs > bytes.length) return None
      var payload = 0
      var i = 0
      while (i < nSegs) { payload += u8(bytes, p + 27 + i); i += 1 }
      val bodyOff = p + 27 + nSegs
      if (bodyOff.toLong + payload > bytes.length) return None
      if (oggPageCrc(bytes, p, 27 + nSegs + payload) != leU32(bytes, p + 22))
        return None
      var segOff = bodyOff
      i = 0
      while (i < nSegs) {
        val l = u8(bytes, p + 27 + i)
        cur.write(bytes, segOff, l)
        segOff += l
        inPacket = true
        if (l < 255) { out += cur.toByteArray; cur.reset(); inPacket = false }
        i += 1
      }
      sawEos = (htype & 0x04) != 0
      first = false
      val next = o + 27L + nSegs + payload
      if (next <= o) return None
      o = next
    }
    if (!sawEos || inPacket || o != bytes.length) return None
    Some(out.result())
  }

  /** Native FLAC stream recovered from an Ogg-FLAC file (the xiph
    * Ogg-FLAC mapping + RFC 5334): the first packet is
    * 0x7F "FLAC" major minor nheaders(u16be) followed by the native
    * 'fLaC' magic + STREAMINFO; subsequent header packets are verbatim
    * metadata blocks and audio packets verbatim FLAC frames — so the
    * native stream IS the packet bytes concatenated with the 9-byte
    * mapping prefix stripped. None unless the pages walk cleanly
    * ([[oggPackets]]) and the first packet carries the mapping magic. */
  def oggFlacNative(bytes: Array[Byte]): Option[Array[Byte]] =
    oggPackets(bytes).flatMap { pkts =>
      pkts.headOption.filter { p0 =>
        p0.length > 9 && (p0(0) & 0xFF) == 0x7F &&
          p0(1) == 'F' && p0(2) == 'L' && p0(3) == 'A' && p0(4) == 'C'
      }.map { p0 =>
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(p0, 9, p0.length - 9)
        pkts.tail.foreach(p => bos.write(p, 0, p.length))
        bos.toByteArray
      }
    }

  private def hasMagic(b: Array[Byte], o: Int, magic: String): Boolean =
    o + magic.length <= b.length &&
      magic.indices.forall(i => (b(o + i) & 0xFF) == (magic.charAt(i) & 0xFF))

  /** Offset of the last STRUCTURALLY VALID OGG page header, or -1.
    * Validity (RFC 3533 §6): capture pattern, version byte 0, header-type
    * flags confined to the 3 defined bits, and the full header + segment
    * table + laced payload fitting inside the buffer — so an "OggS"
    * byte sequence inside packet payload is not mistaken for a page. */
  private def lastOggPage(b: Array[Byte]): Int = {
    var o = b.length - 27
    while (o >= 0) {
      if (hasMagic(b, o, "OggS") && u8(b, o + 4) == 0 && (u8(b, o + 5) & ~0x07) == 0) {
        val nSegs = u8(b, o + 26)
        if (o + 27 + nSegs <= b.length) {
          var payload = 0; var i = 0
          while (i < nSegs) { payload += u8(b, o + 27 + i); i += 1 }
          if (o + 27 + nSegs + payload <= b.length) return o
        }
      }
      o -= 1
    }
    -1
  }
}
