package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column support: media travel as
  * opaque `binary` columns with a typed metadata struct; decode /
  * feature-extract / resize / frame-sample run as batched partition-level
  * transforms.
  *
  * METADATA decode is REAL for every supported container: javax.imageio
  * reads true width/height for PNG/JPEG/GIF/BMP/TIFF, javax.sound parses
  * WAV/AIFF/AU, and [[MediaHeaders]] parses mp4/mov, mkv/webm, mp3,
  * ogg/opus, and flac container headers byte-for-byte. Only the
  * pixel/sample-level FEATURE extractor remains a STUB for kinds with
  * no in-repo codec: deterministic pseudo-values keep the Spark-side
  * plumbing — schema, batch shape, partitioning, join-back — real and
  * tested, and a real decoder (JNI/ONNX/javacv) drops into
  * [[MediaBatch.featuresStub]] without touching the plan structure.
  *
  * ==The codec boundary (PERMANENT, named per codec)==
  * This repo writes decoders from public specs by hand; the line is
  * drawn where a spec's remaining content is TABULATED DATA or an
  * inter-frame prediction machine rather than derivable structure.
  * REAL sample/pixel decode: PNG, GIF (LZW), raw-DIB AVI, MJPEG
  * (ITU-T T.81 DC) in AVI/MP4/MKV, PCM WAV/AIFF/AU, FLAC (RFC 9639),
  * Ogg-FLAC (RFC 3533 page walk), G.711 µ-law AND A-law, IMA ADPCM,
  * DTMF (Goertzel), and MPEG-1 Layer I to subband domain ([[Mpeg]]).
  * PERMANENTLY header-only, each with its blocking reason:
  *  - H.264/HEVC, VP8/VP9, AV1 (in MP4/MKV/WebM): motion-compensated
  *    inter-frame prediction + arithmetic entropy coding (CABAC /
  *    bool-coder) — thousands of lines of normative tables and a
  *    reference-frame state machine; even a keyframe-only decode
  *    needs the full entropy layer, so no honest partial scope
  *    exists. A production deployment plugs libavcodec/JNI into
  *    [[MediaBatch.featuresStub]]; the Spark-side plumbing these
  *    columns need is already real and tested.
  *  - MPEG-1 Layers II/III (mp2/mp3 payloads): Layer II's Table B.2
  *    allocation tables and Layer III's Huffman code tables + IMDCT
  *    window are spec data; Layer I ([[Mpeg]]) is the family member
  *    whose bitstream is fully structural, and it IS decoded.
  *  - Ogg-Vorbis / Opus payloads: setup-header codebook machinery
  *    (floor/residue) resp. the CELT/SILK hybrid — data-table-bound
  *    the same way. Ogg-FLAC, the mapping that reuses a decodable
  *    codec, IS decoded.
  *
  * ==Decision: no checked-in spec tables (settled round 13)==
  * The PSL snapshot (`resources/graft/psl_snapshot.txt`) was raised as
  * a precedent for shipping ISO 11172-3 Table B.3 (the 512-tap
  * synthesis window) as a resource, which would upgrade Layer I to
  * full PCM. Decided AGAINST, and the distinction is principled, not
  * convenience: the PSL is a public registry SNAPSHOT — facts about
  * the world whose ground truth is the registry itself, verifiable
  * against it line by line. A spec's numeric coefficient table is the
  * creative content of the standard document; this environment has no
  * access to the document, so any checked-in table would be
  * RECONSTRUCTED FROM MEMORY with no way to verify a single
  * coefficient — and a silently wrong tap in a 512-entry window
  * produces plausible-but-wrong PCM, the exact failure mode the
  * from-spec-by-hand rule exists to prevent. The subband-domain
  * boundary stays; the fingerprint path it feeds is
  * power-complementarity-sound (see [[Mpeg]]).
  *
  * Scale posture:
  *  - media bytes never go through a shuffle wider than necessary: the
  *    feature extraction is map-side (`mapPartitions`), emitting compact
  *    feature vectors, and metadata-only plans prune the binary column
  *    at the parquet scan (columnar pruning does the heavy lifting);
  *  - batch iteration (`grouped(batchSize)`) mirrors the Arrow-batch
  *    shape a vectorized/Pandas-style UDF would see — a real model
  *    server call amortizes over the batch;
  *  - blobs are size-skewed: `repartitionBySize` salts large files
  *    apart so one task doesn't own all the video.
  */
object Multimodal {

  final case class MediaBlob(media_id: Long, kind: String, content: Array[Byte])
  final case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
                             width: Int, height: Int, n_frames: Int)
  final case class MediaFeatures(media_id: Long, features: Array[Float])

  /** Read a directory of media files as blobs (binaryFile source:
    * path/length/content; id = hash of path for stable identity). */
  def fromBinaryFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile").load(path)
      .select(
        xxhash64(col("path")).as("media_id"),
        regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1).as("kind"),
        col("length").as("n_bytes"),
        col("content"))

  /** Image formats the JDK decodes natively (javax.imageio) — real
    * dimensions with zero external dependencies. */
  private val ImageKinds = Set("png", "jpg", "jpeg", "gif", "bmp", "wbmp", "tif", "tiff")

  /** Batch decode kernel: REAL header decode for JDK-supported image
    * formats; deterministic stub only where the JDK has no codec
    * (audio/video) or the bytes are corrupt. */
  object MediaBatch {

    /** Read (width, height) from the image header via ImageIO readers —
      * header-only, no full pixel decode, so cost is O(header) not
      * O(pixels); None when no installed reader recognizes the bytes. */
    def imageDimensions(content: Array[Byte]): Option[(Int, Int)] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (readers.hasNext) {
          val r = readers.next()
          try {
            r.setInput(iis)
            Some((r.getWidth(0), r.getHeight(0)))
          } catch {
            case _: Exception => None
          } finally r.dispose()
        } else None
      } finally iis.close()
    }

    /** Uncompressed-audio formats the JDK parses natively
      * (javax.sound.sampled) — real sample rate / channels / frame
      * count with zero external dependencies. */
    private val AudioKinds = Set("wav", "wave", "aiff", "aif", "au")

    /** (sampleRate Hz, channels, frames) from the audio file header —
      * header-only (`getAudioFileFormat` never reads the sample data);
      * None when the JDK has no parser for the bytes. */
    def audioMeta(content: Array[Byte]): Option[(Int, Int, Int)] =
      try {
        val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(content))
        val fmt = aff.getFormat
        Some((fmt.getSampleRate.toInt, fmt.getChannels, aff.getFrameLength))
      } catch { case _: Exception => None }

    /** Compressed-audio containers parsed by [[MediaHeaders]] (header
      * bytes only — no codec). */
    private val CodedAudioKinds = Set("mp3", "ogg", "opus", "oga", "flac")

    /** Video containers parsed by [[MediaHeaders]]. */
    private val VideoKinds = Set("mp4", "m4v", "mov", "mkv", "webm", "avi")

    /** REAL decode for every supported container. Field mapping per
      * kind: images/video → (width, height, n_frames); audio →
      * (width=sample rate Hz, height=channels, n_frames=sample frames)
      * — the same typed header contract, one schema for every modality.
      * Images via javax.imageio, WAV/AIFF/AU via javax.sound, mp4/mov,
      * mkv/webm, mp3, ogg/opus, flac via the [[MediaHeaders]] container
      * parsers. Only unrecognized/corrupt bytes fall through to the
      * deterministic stub. */
    def decode(blob: MediaBlob): MediaMeta = {
      val kind = blob.kind.toLowerCase
      def meta(w: Int, h: Int, n: Int) =
        MediaMeta(blob.media_id, blob.kind, blob.content.length.toLong,
          width = w, height = h, n_frames = n)
      val real: Option[MediaMeta] =
        if (ImageKinds(kind))
          imageDimensions(blob.content).map { case (w, h) => meta(w, h, 1) }
        else if (AudioKinds(kind))
          audioMeta(blob.content).map { case (rate, ch, fr) => meta(rate, ch, fr) }
        else if (VideoKinds(kind)) {
          val v = if (kind == "mkv" || kind == "webm")
            MediaHeaders.matroska(blob.content)
          else if (kind == "avi") MediaHeaders.avi(blob.content)
          else MediaHeaders.mp4(blob.content)
          v.map(m => meta(m.width, m.height, m.nFrames))
        } else if (CodedAudioKinds(kind)) {
          val a = kind match {
            case "mp3" => MediaHeaders.mp3(blob.content)
            case "flac" => MediaHeaders.flac(blob.content)
            case _ => MediaHeaders.ogg(blob.content)
          }
          a.map(m => meta(m.sampleRate, m.channels,
            math.min(m.frames, Int.MaxValue.toLong).toInt))
        } else None
      real.getOrElse(decodeStub(blob))
    }

    /** ======== STUB: deterministic fake decode (unrecognized or
      * corrupt bytes only) ====
      * Stable pseudo-dimensions from a content hash keep tests
      * deterministic and the schema contract exercised for bytes no
      * parser recognizes. */
    def decodeStub(blob: MediaBlob): MediaMeta = {
      val h = java.util.Arrays.hashCode(blob.content).toLong & 0x7FFFFFFFL
      MediaMeta(blob.media_id, blob.kind, blob.content.length.toLong,
        width = (h % 1920).toInt + 16,
        height = ((h / 1920) % 1080).toInt + 16,
        n_frames = if (blob.kind == "mp4") (h % 240).toInt + 1 else 1)
    }

    /** Feature extractor. For JDK-decodable images: a REAL normalized
      * `dim`-bin luminance histogram over the pixels (deterministic,
      * resolution-independent content signature — enough for the
      * embedding-shaped plumbing and for coarse near-dup blocking).
      * For decodable AVI video (raw-DIB or MJPEG streams): a REAL
      * luminance histogram over the decoded frames. For audio and
      * corrupt bytes: the byte-moment STUB below. */
    def features(blob: MediaBlob, dim: Int = 8): MediaFeatures =
      (if (ImageKinds(blob.kind.toLowerCase))
         Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob.content)))
       else None) match {
        case Some(img) =>
          val hist = new Array[Long](dim)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xFF) * 299 +
                ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
              hist(math.min(dim - 1, lum * dim / 256)) += 1
              x += 1
            }
            y += 1
          }
          val n = math.max(1L, img.getWidth.toLong * img.getHeight)
          MediaFeatures(blob.media_id, hist.map(_.toFloat / n))
        case None if blob.kind.equalsIgnoreCase("avi") =>
          aviLumaHistogram(blob, dim).getOrElse(featuresStub(blob, dim))
        case None => featuresStub(blob, dim)
      }

    /** REAL luminance histogram for decodable AVI video, replacing the
      * byte-moment stub: raw-DIB frames contribute full pixels; MJPEG
      * frames contribute their DC block means ([[Jpeg.dcLuma]]'s exact
      * 1/8-scale thumbnail) — content-derived luminance statistics
      * either way. None only when neither stream decodes (a corrupt
      * container honestly falls back to the stub). */
    private def aviLumaHistogram(blob: MediaBlob, dim: Int)
        : Option[MediaFeatures] = {
      def normalize(hist: Array[Long], n: Long) =
        MediaFeatures(blob.media_id, hist.map(_.toFloat / math.max(1L, n)))
      aviFrames(blob.content).map { case (w, h, frames) =>
        val stride = ((w * 3 + 3) / 4) * 4
        val hist = new Array[Long](dim); var n = 0L
        frames.foreach { f =>
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val o = (h - 1 - y) * stride + x * 3
              val bb = f(o) & 0xFF; val g = f(o + 1) & 0xFF
              val r = f(o + 2) & 0xFF
              val lum = (r * 299 + g * 587 + bb * 114) / 1000
              hist(math.min(dim - 1, lum * dim / 256)) += 1
              n += 1; x += 1
            }
            y += 1
          }
        }
        normalize(hist, n)
      }.orElse {
        aviMjpegDcGrids(blob.content).map { grids =>
          val hist = new Array[Long](dim); var n = 0L
          grids.foreach { case (_, _, g) =>
            g.foreach { v =>
              hist(math.min(dim - 1, v * dim / 256)) += 1
              n += 1
            }
          }
          normalize(hist, n)
        }
      }
    }

    /** STUB feature extractor: 8 deterministic moments of the byte
      * stream standing in for an embedding model's output (audio and
      * undecodable video only — images get real pixel histograms,
      * decodable AVIs real frame-luminance histograms). */
    def featuresStub(blob: MediaBlob, dim: Int = 8): MediaFeatures = {
      val acc = new Array[Float](dim)
      var i = 0
      while (i < blob.content.length) {
        acc(i % dim) += (blob.content(i) & 0xFF) / 255.0f
        i += 1
      }
      val n = math.max(1, blob.content.length / dim)
      MediaFeatures(blob.media_id, acc.map(_ / n))
    }
  }

  /** Batched metadata decode: partition-level iteration in fixed-size
    * batches (the Arrow-batch shape), no driver involvement. */
  def decodeMeta(blobs: Dataset[MediaBlob], batchSize: Int = 64): Dataset[MediaMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch => batch.map(MediaBatch.decode) }
    }
  }

  /** Batched feature extraction -> compact vectors; joinable back to
    * metadata by media_id. */
  def extractFeatures(blobs: Dataset[MediaBlob], dim: Int = 8,
                      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch => batch.map(MediaBatch.features(_, dim)) }
    }
  }

  /** Metadata-only resize (fit-inside, aspect preserved): the cheap
    * planning variant when only target dimensions are needed — and the
    * stub fallback for kinds the JDK cannot re-encode (audio/video). */
  def resizeStub(meta: Dataset[MediaMeta], maxW: Int, maxH: Int): Dataset[MediaMeta] = {
    import meta.sparkSession.implicits._
    meta.map { m =>
      val scale = math.min(1.0, math.min(maxW.toDouble / m.width, maxH.toDouble / m.height))
      m.copy(width = math.max(1, (m.width * scale).toInt),
        height = math.max(1, (m.height * scale).toInt))
    }
  }

  /** REAL image resize: full decode → bilinear Graphics2D scale →
    * PNG re-encode, fit-inside with aspect preserved, never upscales.
    * JDK-only (javax.imageio + java.awt), batched map-side like the
    * other media kernels. Non-image or undecodable blobs pass through
    * UNCHANGED (resizing is a best-effort normalization step, not a
    * filter — dropping media belongs to an explicit filter stage). */
  def resizeImage(content: Array[Byte], maxW: Int, maxH: Int): Option[Array[Byte]] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
    if (img == null) None
    else {
      val scale = math.min(1.0,
        math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
      if (scale >= 1.0) Some(content) // already fits; keep original bytes
      else {
        val w = math.max(1, (img.getWidth * scale).toInt)
        val h = math.max(1, (img.getHeight * scale).toInt)
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    }
  }

  /** Batched blob-level resize: images come back PNG-encoded inside the
    * box; everything else passes through. */
  def resizeBlobs(blobs: Dataset[MediaBlob], maxW: Int, maxH: Int,
                  batchSize: Int = 64): Dataset[MediaBlob] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { b =>
        if (ImageKinds(b.kind.toLowerCase))
          resizeImage(b.content, maxW, maxH)
            .map(bytes => if (bytes eq b.content) b else b.copy(kind = "png", content = bytes))
            .getOrElse(b)
        else b
      })
    }
  }

  /** Spread size-skewed blobs: big files get their own partitions
    * (range-partition on cumulative size rank ≈ salting by size). */
  def repartitionBySize(df: DataFrame, targetPartitions: Int): DataFrame =
    df.repartitionByRange(targetPartitions, col("n_bytes").desc, col("media_id"))

  /** Frame sampling stub for video blobs: emit (media_id, frame_idx)
    * rows for every k-th frame — the generator shape a real decoder
    * feeds; downstream ops treat frames as first-class rows. */
  def sampleFrameIndexes(meta: Dataset[MediaMeta], everyK: Int): DataFrame =
    meta.toDF()
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames") - 1, lit(0)), lit(everyK))))
      .select(col("media_id"), col("frame_idx"))

  /** 64-bit difference hash (dHash) of a decoded image: the standard
    * perceptual fingerprint — downsample to a 9×8 luminance grid, one
    * bit per horizontally-adjacent cell pair (left < right). Near-
    * identical images (re-encode, mild resize, small edits) land
    * within a few bits; unrelated images differ in ~32.
    *
    * The downsample is an explicit integer AREA AVERAGE over pixel
    * blocks (sum of luminances / count, integer division) — not a
    * Graphics2D scale — so the hash is bit-deterministic across JVMs
    * and platforms, the same determinism discipline as the text
    * SimHash. Undecodable/non-image input → None (loud at the caller,
    * never a silent constant hash) — including CORRUPT data of a
    * recognized format: ImageIO.read returns null only for formats it
    * does not recognize but THROWS (IIOException) on a truncated PNG,
    * so the decode is wrapped like [[audioFingerprint64]]'s — one bad
    * blob must not fail a whole fingerprint job. */
  def dHash64(content: Array[Byte]): Option[Long] = try {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
    if (img == null) None
    else Some(dHashGrid(img.getWidth, img.getHeight, (x, y) => {
      val rgb = img.getRGB(x, y)
      (((rgb >> 16) & 0xFF) * 299 +
        ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
    }))
  } catch { case _: Exception => None }

  /** The dHash bit-assembly over an arbitrary luminance accessor —
    * shared by the image path (BufferedImage pixels) and the raw
    * video-frame path ([[frameDHash64]]), so one derivation covers
    * both fixtures. Identical arithmetic to the original inline form:
    * integer area-average per 9×8 grid cell, bit i set iff
    * cell(i/8, i%8) < its right neighbor. */
  private def dHashGrid(w: Int, h: Int, lum: (Int, Int) => Long): Long = {
    val cells = Array.ofDim[Long](8, 9)
    var gy = 0
    while (gy < 8) {
      val y0 = gy * h / 8
      val y1 = math.min(h, math.max(y0 + 1, (gy + 1) * h / 8))
      var gx = 0
      while (gx < 9) {
        val x0 = gx * w / 9
        val x1 = math.min(w, math.max(x0 + 1, (gx + 1) * w / 9))
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            sum += lum(x, y)
            n += 1; x += 1
          }
          y += 1
        }
        cells(gy)(gx) = sum / math.max(1L, n)
        gx += 1
      }
      gy += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      val row = i / 8; val colIdx = i % 8
      if (cells(row)(colIdx) < cells(row)(colIdx + 1)) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Batched dHash extraction for image blobs → (media_id, dhash).
    * Non-image/undecodable blobs are dropped HERE, at the explicit
    * fingerprint stage (unlike resize, a hash of garbage has no
    * pass-through meaning). Map-side only, same batch shape as the
    * other media kernels. */
  def imageDHashes(blobs: Dataset[MediaBlob], batchSize: Int = 64): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.flatMap { b =>
        if (ImageKinds(b.kind.toLowerCase))
          dHash64(b.content).map(hd => (b.media_id, hd))
        else None
      })
    }.toDF("media_id", "dhash")
  }

  /** Image near-duplicate pairs by banded dHash: the multimodal twin
    * of the text SimHash dedup — same pigeonhole banded join
    * ([[Dedup.hammingPairs64]]), so recall for pairs within
    * `maxHamming` bits is GUARANTEED, not probabilistic. Decode and
    * hash are map-side; the only shuffle ships (id, band, slice)
    * rows — image BYTES never shuffle. */
  def imageNearDupPairs(blobs: Dataset[MediaBlob], maxHamming: Int = 3,
                        bands: Int = 4,
                        maxBucketSize: Int = Int.MaxValue): DataFrame =
    Dedup.hammingPairs64(imageDHashes(blobs), "media_id", "dhash",
      maxHamming, bands, maxBucketSize)

  /** REAL video frame decode for uncompressed-DIB AVI — the one video
    * form the JVM can decode exactly with no codec (raw '00db' frame
    * chunks of bottom-up 24-bit BGR rows padded to 4-byte boundaries;
    * Microsoft's public AVI RIFF layout): returns (width, height,
    * frame byte arrays) when the container parses, frame count and
    * dimensions agree, and every frame has the full stride·height
    * payload — None otherwise (compressed video stays with the
    * header-only [[MediaHeaders]] parsers: no JDK codec exists, the
    * honestly-documented boundary). */
  def aviFrames(content: Array[Byte]): Option[(Int, Int, Seq[Array[Byte]])] =
    try {
      MediaHeaders.avi(content).flatMap { m =>
        if (m.width <= 0 || m.height <= 0) None
        else {
          val stride = ((m.width * 3 + 3) / 4) * 4
          val frames = MediaHeaders.aviDibFrames(content)
          // the avih frame count must MATCH the recovered chunks: a
          // truncated container can keep whole leading frames, and a
          // silent partial decode is exactly the corrupt-blob hazard
          // the undecodable->None contract exists for
          if (frames.nonEmpty && frames.size == m.nFrames &&
              frames.forall(_.length >= stride * m.height))
            Some((m.width, m.height, frames))
          else None
        }
      }
    } catch { case _: Exception => None }

  /** DC-grid dHash of one baseline JPEG (an MJPEG frame chunk or a
    * bare .jpg): [[Jpeg.dcLuma]]'s exact 1/8-scale luminance thumbnail
    * fed through the SAME [[dHashGrid]] area-average arithmetic as
    * pixels — on block-constant / strong-gradient content (anything a
    * perceptual hash is robust on by definition) the comparisons
    * agree with the full-pixel hash, which is how the MJPEG fixture
    * pins hand-derived constants without trusting any codec. */
  def jpegDcDHash64(bytes: Array[Byte]): Option[Long] =
    Jpeg.dcLuma(bytes).map { case (wB, hB, g) =>
      dHashGrid(wB, hB, (x, y) => g(y * wB + x).toLong)
    }

  /** REAL frame decode for MJPEG AVI — the first COMPRESSED codec on
    * the real side of the boundary (each '00dc' stream chunk is a
    * standalone baseline JPEG; [[Jpeg]] entropy-decodes it from the
    * T.81 spec with no codec dependency). Returns the per-frame DC
    * luminance grids when the container parses, the chunk count
    * matches avih's frame count, and EVERY frame decodes — a silent
    * partial decode is exactly the corrupt-blob hazard the
    * undecodable->None contract exists for (see [[aviFrames]]). */
  def aviMjpegDcGrids(content: Array[Byte])
      : Option[Seq[(Int, Int, Array[Int])]] =
    try {
      MediaHeaders.avi(content).flatMap { m =>
        val chunks = MediaHeaders.aviStreamChunks(content, "00dc")
        if (chunks.isEmpty || chunks.size != m.nFrames) None
        else {
          val grids = chunks.map(Jpeg.dcLuma)
          if (grids.forall(_.isDefined)) Some(grids.map(_.get)) else None
        }
      }
    } catch { case _: Exception => None }

  /** REAL frame decode for MJPEG-in-MP4 ('jpeg' photo-JPEG sample
    * entries — each sample a standalone baseline JPEG): the sample-
    * table walk ([[MediaHeaders.mp4JpegSamples]]: stsd/stsz/stsc/stco)
    * recovers every frame's bytes, and [[Jpeg.dcLuma]] decodes each
    * from the T.81 spec — the SECOND compressed video container on the
    * real side (the AVI-MJPEG path decodes the identical codec, so the
    * two containers pin the SAME DC-grid constants). Same all-frames-
    * or-None contract as [[aviMjpegDcGrids]], plus the stsz count must
    * agree with the header parse's frame count. */
  def mp4MjpegDcGrids(content: Array[Byte])
      : Option[Seq[(Int, Int, Array[Int])]] =
    try {
      MediaHeaders.mp4(content).flatMap { m =>
        MediaHeaders.mp4JpegSamples(content).flatMap { samples =>
          if (samples.isEmpty || samples.size != m.nFrames) None
          else {
            val grids = samples.map(Jpeg.dcLuma)
            if (grids.forall(_.isDefined)) Some(grids.map(_.get)) else None
          }
        }
      }
    } catch { case _: Exception => None }

  /** REAL frame decode for MJPEG-in-Matroska (V_MJPEG SimpleBlocks —
    * each one standalone baseline JPEG): the EBML walk
    * ([[MediaHeaders.matroskaJpegFrames]]) recovers every frame and
    * [[Jpeg.dcLuma]] decodes it — the THIRD container over the same
    * codec path, so avi/mp4/mkv all pin identical DC-grid constants.
    * The frame count must agree with the header parse's
    * duration-derived count ([[MediaHeaders.matroska]]) — the same
    * all-frames-or-None contract as the other two containers. */
  def mkvMjpegDcGrids(content: Array[Byte])
      : Option[Seq[(Int, Int, Array[Int])]] =
    try {
      MediaHeaders.matroska(content).flatMap { m =>
        MediaHeaders.matroskaJpegFrames(content).flatMap { samples =>
          if (samples.isEmpty || samples.size != m.nFrames) None
          else {
            val grids = samples.map(Jpeg.dcLuma)
            if (grids.forall(_.isDefined)) Some(grids.map(_.get)) else None
          }
        }
      }
    } catch { case _: Exception => None }

  /** dHash of one raw DIB frame: same grid arithmetic as the image
    * [[dHash64]] ([[dHashGrid]] is shared), over the bottom-up BGR
    * rows directly — gray frames therefore hash IDENTICALLY to a PNG
    * of the same pixels, which is how the video fixture pins
    * hand-derived constants without trusting any codec. */
  def frameDHash64(w: Int, h: Int, bgr: Array[Byte]): Long = {
    val stride = ((w * 3 + 3) / 4) * 4
    dHashGrid(w, h, (x, y) => {
      val o = (h - 1 - y) * stride + x * 3
      val b = bgr(o) & 0xFF; val g = bgr(o + 1) & 0xFF; val r = bgr(o + 2) & 0xFF
      ((r * 299 + g * 587 + b * 114) / 1000).toLong
    })
  }

  /** Per-frame dHashes of an animated GIF through the spec-written
    * [[Gif]] decoder (LZW + compositing, no ImageIO): the composited
    * W×H canvas of every frame feeds the SAME [[dHashGrid]] area-
    * average arithmetic as raw-DIB frames and PNG pixels — grayscale-
    * palette frames therefore hash IDENTICALLY to the same patterns
    * in the other containers, which is how the GIF fixture pins the
    * video constants without trusting any codec. */
  def gifFrameDHashes(content: Array[Byte]): Option[Seq[Long]] =
    try {
      Gif.frames(content).map { case (w, h, fs) =>
        fs.map(px => dHashGrid(w, h, (x, y) => {
          val rgb = px(y * w + x)
          (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000L
        }))
      }
    } catch { case _: Exception => None }

  /** Per-frame perceptual hashes for raw-DIB AVI blobs, sampling every
    * `everyK`-th frame → (media_id, frame_idx, vdhash) — the video
    * member of the fingerprint family (image dHash, audio energy hash,
    * now frame-sequence dHash). Decode + hash are map-side; video
    * BYTES never shuffle (only id + frame index + 8-byte hash rows
    * leave the scan); undecodable containers contribute nothing,
    * loudly countable by an anti-join against the blob table. */
  def videoDHashes(blobs: Dataset[MediaBlob], everyK: Int = 1): DataFrame = {
    require(everyK >= 1, "everyK must be positive")
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        if (b.kind.toLowerCase == "gif")
          gifFrameDHashes(b.content).iterator.flatMap { hs =>
            hs.iterator.zipWithIndex.collect {
              case (hv, i) if i % everyK == 0 => (b.media_id, i, hv)
            }
          }
        else if (b.kind.toLowerCase == "avi")
          aviFrames(b.content) match {
            case Some((w, h, frames)) =>
              frames.iterator.zipWithIndex.collect {
                case (f, i) if i % everyK == 0 =>
                  (b.media_id, i, frameDHash64(w, h, f))
              }
            case None =>
              // compressed stream: the MJPEG path ('00dc' baseline-JPEG
              // chunks) hashes each frame's DC thumbnail
              aviMjpegDcGrids(b.content).iterator.flatMap { grids =>
                grids.iterator.zipWithIndex.collect {
                  case ((wB, hB, g), i) if i % everyK == 0 =>
                    (b.media_id, i,
                      dHashGrid(wB, hB, (x, y) => g(y * wB + x).toLong))
                }
              }
          }
        else if (Set("mp4", "m4v", "mov")(b.kind.toLowerCase))
          // MJPEG-in-MP4: T.81 DC grids via the ISO sample-table walk
          mp4MjpegDcGrids(b.content).iterator.flatMap { grids =>
            grids.iterator.zipWithIndex.collect {
              case ((wB, hB, g), i) if i % everyK == 0 =>
                (b.media_id, i,
                  dHashGrid(wB, hB, (x, y) => g(y * wB + x).toLong))
            }
          }
        else if (Set("mkv", "webm")(b.kind.toLowerCase))
          // MJPEG-in-Matroska: T.81 DC grids via the EBML block walk
          mkvMjpegDcGrids(b.content).iterator.flatMap { grids =>
            grids.iterator.zipWithIndex.collect {
              case ((wB, hB, g), i) if i % everyK == 0 =>
                (b.media_id, i,
                  dHashGrid(wB, hB, (x, y) => g(y * wB + x).toLong))
            }
          }
        else Nil
      }
    }.toDF("media_id", "frame_idx", "vdhash")
  }

  /** Video near-duplicate pairs: two videos pair when at least
    * `minMatchingFrames` of their same-index sampled frames sit within
    * `maxHamming` bits — re-encodes and small overlays move few bits
    * per frame, different material scrambles most frames.
    *
    * Scale shape: candidates come from the [[Dedup.hammingPairs64]]
    * pigeonhole banding with the FRAME INDEX in the bucket key
    * (frame_idx, band, 16-bit slice) — recall for ≤ maxHamming < 4 is
    * guaranteed, and a plain frame_idx equi-join (where frame 0 of
    * EVERY video is one join key, an all-pairs at corpus scale) never
    * forms. Only (id, idx, hash, band, slice) rows shuffle; video
    * bytes stay in the scan. `maxBucketSize` is the usual mega-bucket
    * guard (a flat black intro frame shared by millions of videos). */
  def videoNearDupPairs(blobs: Dataset[MediaBlob], maxHamming: Int = 3,
                        everyK: Int = 1, minMatchingFrames: Int = 2,
                        bands: Int = 4,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming < bands, "pigeonhole recall needs maxHamming < bands")
    require(64 % bands == 0, "bands must divide 64")
    val bits = 64 / bands
    val hashes = videoDHashes(blobs, everyK)
    val banded0 = hashes.select(col("media_id"), col("frame_idx"),
      col("vdhash"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftright(col("vdhash"), b * bits).bitwiseAND((1L << bits) - 1)
          .as("bv"))): _*)).as("b"))
      .select(col("media_id"), col("frame_idx"), col("vdhash"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val banded = Dedup.capBuckets(banded0,
      Seq("frame_idx", "band", "bv"), maxBucketSize)
    banded.toDF("id_a", "frame_idx", "h_a", "band", "bv")
      .join(banded.toDF("id_b", "frame_idx", "h_b", "band", "bv"),
        Seq("frame_idx", "band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("frame_idx"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_matching_frames"))
      .filter(col("n_matching_frames") >= minMatchingFrames)
  }

  /** 64-bit audio energy-delta fingerprint — dHash's audio twin over
    * REAL decoded PCM (16-bit signed WAV/AIFF via javax.sound, plus
    * FLAC through the spec-written [[Flac]] decoder, Ogg-FLAC through
    * the CRC-verified page walk into the same decoder, G.711 µ-law WAV
    * through the ITU closed-form expand, and MPEG-1 Layer I through
    * [[Mpeg.layer1SubbandPcm]]'s bitstream decode — subband-domain
    * energy, the boundary named there; MPEG Layers II/III and
    * Ogg-Vorbis/Opus are the remaining header-only stubs, each blocked
    * by tabulated spec DATA, not structure: Layer II's B.2 allocation
    * tables, Layer III's Huffman tables, Vorbis' floor/residue
    * codebook machinery): mix
    * channels, slice the sample
    * stream into 65 equal windows, bit i set iff window i+1 carries
    * MORE energy than window i. Re-encodes and small edits preserve
    * the coarse energy envelope (a few bits); different material
    * scrambles ~half.
    *
    * All-integer arithmetic (energy = Σ mixed², Long — 16-bit
    * squares × any realistic window length stay < 2⁶³), so the
    * fingerprint is bit-deterministic across platforms. None for
    * undecodable input, non-16-bit-PCM encodings, or streams shorter
    * than 65 frames — loud, never a constant hash. */
  def audioFingerprint64(content: Array[Byte]): Option[Long] = {
    import javax.sound.sampled._
    try {
      // FLAC: lossless compressed audio through the spec-written
      // [[Flac]] decoder — the decoded PCM is bit-identical to the
      // encoder's input, so the fingerprint EQUALS the same samples'
      // WAV fingerprint (the fixture pins exactly that)
      if (content.length >= 4 && content(0) == 'f' && content(1) == 'L' &&
          content(2) == 'a' && content(3) == 'C')
        return Flac.pcm(content).flatMap { case (_, ch, pcm) =>
          val n = pcm.length / ch
          if (n < 65) None
          else energyDeltaBits(n, i => {
            var s = 0L; var c = 0
            while (c < ch) { s += pcm(i * ch + c); c += 1 }
            s / ch
          })
        }
      // Ogg-FLAC (RFC 5334 + the xiph mapping): the CRC-verified page
      // walk recovers the NATIVE FLAC stream byte-for-byte
      // ([[MediaHeaders.oggFlacNative]]), so the same [[Flac]] decoder
      // — and therefore the same lossless fingerprint constants as the
      // WAV/FLAC fixtures — covers the ogg container too. Ogg-Vorbis
      // payloads fail the mapping-magic check and stay header-only.
      if (content.length >= 4 && content(0) == 'O' && content(1) == 'g' &&
          content(2) == 'g' && content(3) == 'S')
        return MediaHeaders.oggFlacNative(content)
          .flatMap(Flac.pcm).flatMap { case (_, ch, pcm) =>
            val n = pcm.length / ch
            if (n < 65) None
            else energyDeltaBits(n, i => {
              var s = 0L; var c = 0
              while (c < ch) { s += pcm(i * ch + c); c += 1 }
              s / ch
            })
          }
      // MPEG-1 Audio Layer I (ISO 11172-3): the lossy TRANSFORM-coded
      // family opened to bitstream depth — allocation, scalefactors
      // (Table B.1's closed form) and the (2^nb−1)-level midtread
      // requantization are fully decoded; the fingerprint runs on the
      // critically-sampled SUBBAND-domain stream because the last
      // synthesis step needs Table B.3's tabulated window (spec data —
      // the named boundary in [[Mpeg]]'s scaladoc). The filterbank is
      // power-complementary, so the energy envelope — all this
      // fingerprint reads — is preserved; the fixtures pin the same
      // hand-derived constants as their WAV twins. The sync gate
      // matches MPEG-1 Layer I unprotected only (b2 = 0xFF); Layer
      // II/III and MPEG-2 fall through to the header-only stubs.
      if (content.length >= 3 &&
          (((content(0) & 0xFF) == 0xFF && (content(1) & 0xFF) == 0xFF) ||
            (content(0) == 'I' && content(1) == 'D' && content(2) == '3')))
        return Mpeg.layer1SubbandPcm(content).flatMap { case (_, ch, pcm) =>
          val n = pcm.length / ch
          if (n < 65) None
          else energyDeltaBits(n, i => pcm(i).toLong)
        }
      // G.711 µ-law WAV (fmt tag 7): the ITU telephony codec, decoded
      // by the spec's closed-form expand — the THIRD real audio format
      // and the first LOSSY one; the fixture's envelopes are built so
      // the louder-than-previous bits survive quantization by a full
      // segment of margin (derivation at MediaFixture.mulawFpEntries)
      wavG711Data(content, 7) match {
        case Some((ch, data)) =>
          val n = data.length / ch
          if (n < 65) return None
          return energyDeltaBits(n, i => {
            var s = 0L; var c = 0
            while (c < ch) { s += mulawExpand(data(i * ch + c) & 0xFF); c += 1 }
            s / ch
          })
        case None => ()
      }
      // G.711 A-law WAV (fmt tag 6): µ-law's even-bits-inverted
      // European twin, decoded by the same closed-form segment/mantissa
      // expand — the derivation constants live at
      // MediaFixture.alawFpEntries (100→104, 1000→1008, 2000→2016,
      // 32·2^k strictly increasing)
      wavG711Data(content, 6) match {
        case Some((ch, data)) =>
          val n = data.length / ch
          if (n < 65) return None
          return energyDeltaBits(n, i => {
            var s = 0L; var c = 0
            while (c < ch) { s += alawExpand(data(i * ch + c) & 0xFF); c += 1 }
            s / ch
          })
        case None => ()
      }
      // IMA/DVI ADPCM WAV (fmt tag 0x11): the 4-bit adaptive-delta
      // telephony/game codec, decoded by the public IMA step/index
      // tables — the FOURTH real audio format. Mono only (multi-
      // channel IMA interleaves 4-byte channel words; None keeps the
      // boundary loud rather than decoding channels wrong).
      wavAdpcmData(content) match {
        case Some((ch, blockAlign, data)) if ch == 1 =>
          val pcm = imaAdpcmDecodeMono(data, blockAlign)
          if (pcm.length < 65) return None
          return energyDeltaBits(pcm.length, i => pcm(i).toLong)
        case Some(_) => return None
        case None => ()
      }
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      val fmt = ais.getFormat
      if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16) return None
      val ch = fmt.getChannels
      val bytes = ais.readAllBytes()
      val n = bytes.length / (2 * ch)
      if (n < 65) return None
      val big = fmt.isBigEndian
      def sample(i: Int): Long = { // channel-mixed frame i
        var s = 0L; var c = 0
        while (c < ch) {
          val o = (i * ch + c) * 2
          val v = if (big) ((bytes(o) << 8) | (bytes(o + 1) & 0xFF)).toShort
                  else ((bytes(o + 1) << 8) | (bytes(o) & 0xFF)).toShort
          s += v; c += 1
        }
        s / ch
      }
      energyDeltaBits(n, sample)
    } catch { case _: Exception => None }
  }

  /** RIFF/WAVE walk returning (channels, data bytes) iff the fmt
    * chunk declares the requested G.711 format tag (7 = µ-law,
    * 6 = A-law; both 8 bits/sample); None for any other WAV or
    * non-WAV bytes (those stay on the javax.sound path).
    * Every chunk size is an UNTRUSTED u32: the step is computed in
    * Long and must strictly advance (the AVI-walk guard), so corrupt
    * sizes bail instead of hanging or indexing negatively. */
  private def wavG711Data(b: Array[Byte],
                          wantTag: Int): Option[(Int, Array[Byte])] = {
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
        b(11) != 'E') return None
    def u16(o: Int) = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    var o = 12L
    var tag = -1; var ch = -1
    var data: Array[Byte] = null
    while (o + 8 <= b.length) {
      val p = o.toInt
      val sz = (b(p + 4) & 0xFF).toLong | ((b(p + 5) & 0xFF).toLong << 8) |
        ((b(p + 6) & 0xFF).toLong << 16) | ((b(p + 7) & 0xFF).toLong << 24)
      val body = o + 8
      if (body + sz > b.length) return None
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' &&
          b(p + 3) == ' ' && sz >= 16) {
        tag = u16(body.toInt); ch = u16(body.toInt + 2)
      }
      if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
          b(p + 3) == 'a')
        data = java.util.Arrays.copyOfRange(b, body.toInt, (body + sz).toInt)
      val next = body + sz + (sz & 1L)
      if (next <= o) return None
      o = next
    }
    if (tag == wantTag && ch >= 1 && data != null && data.nonEmpty)
      Some((ch, data))
    else None
  }

  /** RIFF/WAVE walk returning (channels, blockAlign, data bytes) iff
    * the fmt chunk declares IMA/DVI ADPCM (tag 0x11, 4 bits/sample);
    * None otherwise. Same untrusted-u32 guards as [[wavG711Data]]. */
  private def wavAdpcmData(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
        b(11) != 'E') return None
    def u16(o: Int) = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    var o = 12L
    var tag = -1; var ch = -1; var blockAlign = -1
    var data: Array[Byte] = null
    while (o + 8 <= b.length) {
      val p = o.toInt
      val sz = (b(p + 4) & 0xFF).toLong | ((b(p + 5) & 0xFF).toLong << 8) |
        ((b(p + 6) & 0xFF).toLong << 16) | ((b(p + 7) & 0xFF).toLong << 24)
      val body = o + 8
      if (body + sz > b.length) return None
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' &&
          b(p + 3) == ' ' && sz >= 16) {
        tag = u16(body.toInt); ch = u16(body.toInt + 2)
        blockAlign = u16(body.toInt + 12)
      }
      if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
          b(p + 3) == 'a')
        data = java.util.Arrays.copyOfRange(b, body.toInt, (body + sz).toInt)
      val next = body + sz + (sz & 1L)
      if (next <= o) return None
      o = next
    }
    if (tag == 0x11 && ch >= 1 && blockAlign >= 8 && data != null &&
        data.nonEmpty)
      Some((ch, blockAlign, data))
    else None
  }

  /** The public IMA ADPCM step-size table (89 entries) and index
    * adjustments — the whole codec state is (predictor, step index). */
  private val imaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val imaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** Mono IMA ADPCM block decode: each `blockAlign`-byte block opens
    * with (predictor s16 LE, step index u8, reserved) — the header
    * value IS the block's first sample — followed by 4-bit deltas,
    * LOW nibble first (the IMA WAV layout). All-integer state
    * machine, bit-deterministic; diff = step/8 (+step/4 +step/2 +step
    * per magnitude bit), sign bit 8 subtracts, predictor clamps to
    * s16, index clamps to [0, 88]. A trailing partial block decodes
    * its available bytes (real encoders pad; corrupt tails just end
    * the stream — the total-parser contract). */
  private[graft] def imaAdpcmDecodeMono(data: Array[Byte],
                                 blockAlign: Int): Array[Int] = {
    val out = Array.newBuilder[Int]
    var bo = 0
    while (bo + 4 <= data.length) {
      val end = math.min(data.length, bo + blockAlign)
      var pred = ((data(bo + 1) << 8) | (data(bo) & 0xFF)).toShort.toInt
      var idx = math.min(88, data(bo + 2) & 0xFF)
      out += pred
      var p = bo + 4
      while (p < end) {
        val byte = data(p) & 0xFF
        var k = 0
        while (k < 2) {
          val nib = if (k == 0) byte & 0x0F else (byte >> 4) & 0x0F
          val step = imaStepTable(idx)
          var diff = step >> 3
          if ((nib & 1) != 0) diff += step >> 2
          if ((nib & 2) != 0) diff += step >> 1
          if ((nib & 4) != 0) diff += step
          pred = if ((nib & 8) != 0) math.max(-32768, pred - diff)
                 else math.min(32767, pred + diff)
          idx = math.max(0, math.min(88, idx + imaIndexTable(nib)))
          out += pred
          k += 1
        }
        p += 1
      }
      bo += blockAlign
    }
    out.result()
  }

  /** ITU-T G.711 µ-law expand to 16-bit-class linear: the closed form
    * ((mantissa·8 + 0x84) << exponent) − 0x84 on the complemented
    * code byte — exact integer arithmetic, monotone in the encoded
    * magnitude. */
  private def mulawExpand(code: Int): Long = {
    val u = (~code) & 0xFF
    val mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x7)) - 0x84
    if ((u & 0x80) != 0) -mag.toLong else mag.toLong
  }

  /** ITU-T G.711 A-law expand to 16-bit-class linear: XOR the
    * even-bit mask 0x55, then segment 0 decodes to (mantissa·16 + 8)
    * and segment s ≥ 1 to ((mantissa·16 + 0x108) << (s−1)) — exact
    * integer midpoint reconstruction, monotone in the encoded
    * magnitude; sign bit SET means positive (the A-law convention,
    * opposite of µ-law's complemented coding). */
  private[graft] def alawExpand(code: Int): Long = {
    val a = code ^ 0x55
    val seg = (a >> 4) & 0x7
    val mant = a & 0x0F
    val mag =
      if (seg == 0) (mant << 4) + 8
      else ((mant << 4) + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) mag.toLong else -mag.toLong
  }

  /** The 65-window energy envelope → 64 louder-than-previous bits,
    * shared by the javax.sound (WAV/AIFF) and [[Flac]] paths so one
    * derivation covers both fixtures. */
  private def energyDeltaBits(n: Int, sample: Int => Long): Option[Long] = {
    val energy = new Array[Long](65)
    var w = 0
    while (w < 65) {
      val i0 = w * n / 65; val i1 = (w + 1) * n / 65
      var e = 0L; var i = i0
      while (i < i1) { val s = sample(i); e += s * s; i += 1 }
      energy(w) = e
      w += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (energy(i + 1) > energy(i)) bits |= (1L << i)
      i += 1
    }
    Some(bits)
  }

  private val AudioFpKinds =
    Set("wav", "wave", "aiff", "aif", "au", "flac", "ogg", "oga", "mp1")

  /** Batched audio fingerprints for decodable PCM blobs →
    * (media_id, afp). Same drop-at-the-fingerprint-stage contract as
    * [[imageDHashes]]. */
  def audioFingerprints(blobs: Dataset[MediaBlob],
                        batchSize: Int = 64): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.flatMap { b =>
        if (AudioFpKinds(b.kind.toLowerCase))
          audioFingerprint64(b.content).map(h => (b.media_id, h))
        else None
      })
    }.toDF("media_id", "afp")
  }

  /** Audio near-duplicate pairs by banded energy fingerprint — the
    * third client of [[Dedup.hammingPairs64]]'s pigeonhole join
    * (text SimHash, image dHash, audio energy hash: one banding
    * discipline, three modalities). Audio bytes never shuffle. */
  def audioNearDupPairs(blobs: Dataset[MediaBlob], maxHamming: Int = 3,
                        bands: Int = 4,
                        maxBucketSize: Int = Int.MaxValue): DataFrame =
    Dedup.hammingPairs64(audioFingerprints(blobs), "media_id", "afp",
      maxHamming, bands, maxBucketSize)
}
