package graft.operators

/** Baseline-JPEG luminance DC decoder, written from the public spec
  * (ITU-T T.81 / ISO 10918-1: marker syntax §B, huffman decode
  * procedure §F.2.2.3, EXTEND §F.12, typical tables Annex K).
  *
  * The suite's compressed-codec boundary was "the JDK has no codec":
  * header-only parsers for mp4/mkv/mp3/ogg and a byte-moment
  * featuresStub behind them. This module moves one compressed format
  * onto the REAL side with no codec dependency: it entropy-decodes a
  * baseline JPEG scan and keeps each 8×8 block's dequantized DC
  * coefficient — the block's mean sample value, i.e. an exact 1/8-scale
  * grayscale thumbnail. That is precisely the granularity dHash-class
  * perceptual fingerprints consume (a 9×8 area-average), so
  * dHash-over-DC matches dHash-over-pixels on the fixture patterns
  * without inverse-DCT'ing anything.
  *
  * MJPEG-in-AVI frames (the `00dc` stream chunks) conventionally OMIT
  * the DHT segment and rely on the Annex K typical tables; a scan that
  * references an undefined table falls back to those, so both
  * self-contained JFIF frames and bare MJPEG frames decode.
  *
  * Every parser here is TOTAL: untrusted lengths/ids bail to None (the
  * MediaHeaders avi() corrupt-u32 lesson), and the public entry wraps
  * the entropy decoder in a catch-all — one corrupt blob must never
  * hang or kill a fingerprint job.
  */
object Jpeg {

  /** Per-8×8-block luminance means of a baseline JPEG: (wBlocks,
    * hBlocks, values) with values level-shifted to 0..255, row-major.
    * The grid covers whole MCUs (right/bottom padding blocks included —
    * deterministic, and harmless to area-averaged fingerprints).
    * None for progressive/arithmetic/malformed/truncated input. */
  def dcLuma(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try decode(bytes) catch { case _: Exception => None }

  // ---- marker-segment state ----

  private final class Component(val id: Int, val h: Int, val v: Int,
                                val tq: Int)

  private def u16be(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)

  private def decode(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8)
      return None // no SOI
    // quant tables: only element 0 (the DC quantizer, first in zigzag)
    val qDc = Array.fill(4)(-1)
    val huff = new Array[Huff](8) // index tc*4+th: 0-3 DC, 4-7 AC
    var comps: Array[Component] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var o = 2
    while (o + 4 <= b.length) {
      if ((b(o) & 0xFF) != 0xFF) return None
      var m = b(o + 1) & 0xFF
      while (m == 0xFF && o + 2 < b.length) { o += 1; m = b(o + 1) & 0xFF } // fill bytes
      if (m == 0xD9) return None // EOI before any scan
      o += 2
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
        // TEM/RSTn: standalone, no length (not expected between segments)
      } else {
        if (o + 2 > b.length) return None
        val len = u16be(b, o)
        val end = o + len
        if (len < 2 || end > b.length) return None
        val body = o + 2
        m match {
          case 0xDB => // DQT: {pq<<4|tq, 64 entries}* — keep entry 0 only
            var p = body
            while (p < end) {
              val pq = (b(p) & 0xFF) >> 4; val tq = b(p) & 0x0F
              if (tq > 3 || pq > 1) return None
              val step = if (pq == 1) 2 else 1
              if (p + 1 + 64 * step > end) return None
              qDc(tq) = if (pq == 1) u16be(b, p + 1) else b(p + 1) & 0xFF
              p += 1 + 64 * step
            }
          case 0xC4 => // DHT: {tc<<4|th, counts[16], symbols}*
            var p = body
            while (p < end) {
              val tc = (b(p) & 0xFF) >> 4; val th = b(p) & 0x0F
              if (tc > 1 || th > 3 || p + 17 > end) return None
              val counts = Array.tabulate(16)(i => b(p + 1 + i) & 0xFF)
              val n = counts.sum
              if (p + 17 + n > end || n > 256) return None
              val syms = Array.tabulate(n)(i => b(p + 17 + i) & 0xFF)
              huff(tc * 4 + th) = new Huff(counts, syms)
              p += 17 + n
            }
          case 0xC0 | 0xC1 => // SOF0 baseline / SOF1 extended sequential
            if (body + 6 > end) return None
            height = u16be(b, body + 1); width = u16be(b, body + 3)
            val nc = b(body + 5) & 0xFF
            if (width <= 0 || height <= 0 || nc < 1 || nc > 4 ||
                body + 6 + nc * 3 > end) return None
            comps = Array.tabulate(nc) { i =>
              val q = body + 6 + i * 3
              val c = new Component(b(q) & 0xFF, (b(q + 1) & 0xFF) >> 4,
                b(q + 1) & 0x0F, b(q + 2) & 0xFF)
              if (c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4 || c.tq > 3)
                return None
              c
            }
          case 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
               0xCD | 0xCE | 0xCF =>
            return None // progressive/lossless/arithmetic: out of scope
          case 0xDD => // DRI
            if (body + 2 > end) return None
            restartInterval = u16be(b, body)
          case 0xDA => // SOS: decode the scan and finish
            if (comps == null) return None
            val ns = b(body) & 0xFF
            if (ns != comps.length || body + 1 + ns * 2 + 3 > end) return None
            val scanComps = Array.tabulate(ns) { i =>
              val cs = b(body + 1 + i * 2) & 0xFF
              val c = comps.find(_.id == cs).getOrElse(return None)
              val td = (b(body + 2 + i * 2) & 0xFF) >> 4
              val ta = b(body + 2 + i * 2) & 0x0F
              (c, td, ta)
            }
            return decodeScan(b, end, scanComps, width, height,
              restartInterval, huff, qDc)
          case _ => // APPn/COM/unknown: skip
        }
        o = end
      }
    }
    None // ran out of segments without a scan
  }

  /** Annex K "typical" tables, used when a scan references an
    * undefined slot — the MJPEG-in-AVI convention (frames ship with
    * no DHT at all). Indexed like `huff`. */
  private def typicalTable(slot: Int): Huff = slot match {
    case 0 | 1 | 2 | 3 => // DC (K.3 luma for slot 0, K.4 chroma others)
      if (slot == 0)
        new Huff(Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
          (0 to 11).toArray)
      else
        new Huff(Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
          (0 to 11).toArray)
    case 4 => new Huff( // AC luminance (K.5)
      Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
      Array(
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31,
        0x41, 0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32,
        0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
        0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28, 0x29, 0x2A,
        0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57,
        0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83,
        0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94,
        0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8,
        0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8,
        0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA))
    case _ => new Huff( // AC chrominance (K.6)
      Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
      Array(
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
        0x12, 0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81,
        0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33,
        0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56,
        0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A,
        0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92,
        0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
        0xD7, 0xD8, 0xD9, 0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7,
        0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA))
  }

  /** Canonical huffman decode tables per T.81 F.2.2.3 (MINCODE /
    * MAXCODE / VALPTR). `counts(i)` = number of codes of length i+1. */
  private final class Huff(counts: Array[Int], syms: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        if (counts(l - 1) > 0) {
          valPtr(l) = k; minCode(l) = code
          code += counts(l - 1); k += counts(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(r: BitReader): Int = {
      var l = 1
      var code = r.nextBit()
      while (code > maxCode(l) || maxCode(l) < 0) {
        l += 1
        if (l > 16) throw new IllegalStateException("bad huffman code")
        code = (code << 1) | r.nextBit()
      }
      syms(valPtr(l) + code - minCode(l))
    }
  }

  /** MSB-first bit reader over entropy-coded data with 0xFF00
    * stuffing; any real marker mid-read is malformed input (restart
    * markers are consumed explicitly via [[expectRst]]). */
  private final class BitReader(b: Array[Byte], var pos: Int, limit: Int) {
    private var buf = 0; private var cnt = 0
    def nextBit(): Int = {
      if (cnt == 0) {
        if (pos >= limit) throw new IllegalStateException("truncated scan")
        val v = b(pos) & 0xFF; pos += 1
        if (v == 0xFF) {
          if (pos >= limit) throw new IllegalStateException("truncated scan")
          if ((b(pos) & 0xFF) != 0x00)
            throw new IllegalStateException("marker inside entropy data")
          pos += 1
        }
        buf = v; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    /** Byte-align and consume the expected RSTn marker (T.81 §E.2.4). */
    def expectRst(n: Int): Unit = {
      cnt = 0
      if (pos + 2 > limit || (b(pos) & 0xFF) != 0xFF ||
          (b(pos + 1) & 0xFF) != (0xD0 + n))
        throw new IllegalStateException("missing restart marker")
      pos += 2
    }
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private def decodeScan(b: Array[Byte], dataStart: Int,
      scanComps: Array[(Component, Int, Int)], width: Int, height: Int,
      restartInterval: Int, huff: Array[Huff], qDc: Array[Int])
      : Option[(Int, Int, Array[Int])] = {
    val hmax = scanComps.map(_._1.h).max
    val vmax = scanComps.map(_._1.v).max
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    // bound the grid: a forged SOF with huge dims must not allocate GBs
    if (mcusX.toLong * mcusY * hmax * vmax > (1L << 24)) return None
    val (luma, lumaTd, _) = scanComps(0) // first scan component = Y in JFIF
    val q0 = qDc(luma.tq)
    if (q0 <= 0) return None
    val wB = mcusX * luma.h; val hB = mcusY * luma.v
    val grid = new Array[Int](wB * hB)
    val tables = scanComps.map { case (_, td, ta) =>
      (Option(huff(td)).getOrElse(typicalTable(td)),
        Option(huff(4 + ta)).getOrElse(typicalTable(4 + ta)))
    }
    val pred = new Array[Int](scanComps.length)
    val r = new BitReader(b, dataStart, b.length)
    var rstCount = 0; var rstIdx = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && rstCount == restartInterval) {
          r.expectRst(rstIdx)
          rstIdx = (rstIdx + 1) & 7
          rstCount = 0
          java.util.Arrays.fill(pred, 0)
        }
        var ci = 0
        while (ci < scanComps.length) {
          val c = scanComps(ci)._1
          val (dcT, acT) = tables(ci)
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              // DC: category + extend, accumulated into the predictor
              val t = dcT.decode(r)
              if (t > 15) throw new IllegalStateException("bad DC category")
              pred(ci) += extend(r.receive(t), t)
              if (ci == 0) {
                // dequantized DC / 8 + 128 = the block's mean sample
                val mean = 128 + pred(0) * q0 / 8
                grid((my * c.v + by) * wB + (mx * c.h + bx)) =
                  math.max(0, math.min(255, mean))
              }
              // AC: decode-and-discard to stay in sync with the stream
              var k = 1
              while (k < 64) {
                val rs = acT.decode(r)
                val run = rs >> 4; val size = rs & 0x0F
                if (size == 0) {
                  if (run == 15) k += 16 // ZRL
                  else k = 64 // EOB
                } else {
                  k += run
                  r.receive(size)
                  k += 1
                }
              }
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        rstCount += 1
        mx += 1
      }
      my += 1
    }
    Some((wB, hB, grid))
  }
}
