package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns (SURVEY.md M6): image/audio/video as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract /
  * frame-sample operators. The media decode is a REAL byte-level codec
  * ([[PnmCodec]]: binary PNM P5/P6, oracled by a decoder-inverts-encoder
  * round trip) run through the same `mapPartitions` dataflow a heavier
  * libjpeg/ffmpeg binding would use — swap the codec, keep the plumbing.
  *
  * Scale notes: all feature extraction is per-row inside the scan stage
  * (no shuffle); frame sampling explodes to size/frameBytes rows —
  * bound it with a LIMIT-per-media (`maxFrames`) exactly like a frame
  * sampler would on 100 TB of video.
  */
object Multimodal {

  /** Cheap container-level features — no decode required: byte size,
    * leading-bytes header (magic number), content id.
    */
  def withMediaFeatures(df: DataFrame, dataCol: String): DataFrame =
    df
      .withColumn("byte_len", length(col(dataCol)).cast("long"))
      .withColumn("header_hex", lower(hex(substring(col(dataCol), 1, 4))))
      .withColumn("content_id", md5(col(dataCol)))

  /** Frame sampling: split the payload into fixed-size chunks and emit
    * (frame_idx, frame_sig) rows, at most `maxFrames` per media row.
    * Chunking via substring-on-binary is codegen'd; the "signature" is
    * the md5 of the chunk (stand-in for a per-frame embedding).
    */
  def sampleFrames(df: DataFrame, dataCol: String, frameBytes: Int, maxFrames: Int): DataFrame = {
    val nFrames = least(
      expr(s"(length($dataCol) + ${frameBytes - 1}) div $frameBytes"),
      lit(maxFrames.toLong))
    df
      // sequence(0, n-1) with n = 0 would DESCEND to [0, -1]; pad the
      // upper bound to >= 0 and filter so empty payloads emit zero rows.
      .withColumn("__fi", explode(sequence(lit(0L), greatest(nFrames, lit(1L)) - 1)))
      .filter(col("__fi") < nFrames)
      .withColumn("frame_idx", col("__fi").cast("long"))
      .withColumn("frame_sig",
        md5(expr(s"substring($dataCol, __fi * $frameBytes + 1, $frameBytes)")))
      .drop("__fi")
  }

  /** Decoded raster metadata + pixel statistics for one media row. */
  final case class PnmImage(id: Long, format: String, width: Int, height: Int,
      maxVal: Int, channels: Int, nPixels: Long, minGray: Int, maxGray: Int,
      meanGray: Double)

  /** Real (deliberately small) media codec: binary PNM — P5 graymap /
    * P6 pixmap with 8-bit samples — parsed directly from the payload
    * bytes: magic, whitespace/`#`-comment-tolerant header integers
    * (width, height, maxval), exactly one whitespace byte, then the
    * raster. Returns None for anything that is not a complete valid
    * image (bad magic, malformed header, maxval > 255, truncated
    * raster). `meanGray` averages ALL raster samples — for P6 that is
    * the interleaved-RGB mean.
    */
  object PnmCodec extends Serializable {

    /** Parsed header: (format, width, height, maxval, channels,
      * raster offset). One parser shared by the stats decode and the
      * raster decode so the two can never drift on header semantics.
      */
    private[operators] def parseHeader(
        bytes: Array[Byte]): Option[(String, Int, Int, Int, Int, Int)] =
      parseHeader(bytes, 0)

    /** Offset variant for multi-frame containers ([[sceneCuts]]): parse
      * the frame starting at `from`; the returned raster offset is
      * absolute (into `bytes`), so the next frame starts at
      * rasterOffset + w·h·channels.
      */
    private[operators] def parseHeader(
        bytes: Array[Byte], from: Int): Option[(String, Int, Int, Int, Int, Int)] = {
      if (bytes == null || bytes.length < from + 2 || bytes(from) != 'P') return None
      val fmt = bytes(from + 1) match {
        case '5' => "P5"
        case '6' => "P6"
        case _ => return None
      }
      var pos = from + 2
      def skipWsAndComments(): Unit = {
        var go = true
        while (go && pos < bytes.length) {
          val b = bytes(pos)
          if (b == ' ' || b == '\n' || b == '\r' || b == '\t') pos += 1
          else if (b == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
          else go = false
        }
      }
      def readInt(): Int = { // -1 = no digits at cursor, or overflow
        skipWsAndComments()
        val st = pos
        var v = 0
        while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9' && v < (1 << 24)) {
          v = v * 10 + (bytes(pos) - '0'); pos += 1
        }
        if (pos == st) -1
        // digits remain past the size cap: an oversized value must read
        // as malformed, not silently truncate into a plausible triple
        else if (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') -1
        else v
      }
      val w = readInt(); val h = readInt(); val mv = readInt()
      if (w <= 0 || h <= 0 || mv <= 0 || mv > 255) return None
      val channels = if (fmt == "P6") 3 else 1
      val n = w.toLong * h * channels
      // exactly one whitespace byte separates maxval from the raster —
      // anything else (e.g. "255X<raster>") would shift the raster
      if (pos >= bytes.length || bytes.length - (pos + 1) < n) return None
      val sep = bytes(pos)
      if (sep != ' ' && sep != '\n' && sep != '\r' && sep != '\t') return None
      pos += 1
      Some((fmt, w, h, mv, channels, pos))
    }

    def decode(id: Long, bytes: Array[Byte]): Option[PnmImage] =
      parseHeader(bytes).map { case (fmt, w, h, mv, channels, pos) =>
        val n = w.toLong * h * channels
        var mn = 255; var mx = 0; var sum = 0L
        var i = pos
        val end = pos + n.toInt
        while (i < end) {
          val v = bytes(i) & 0xFF
          if (v < mn) mn = v
          if (v > mx) mx = v
          sum += v
          i += 1
        }
        PnmImage(id, fmt, w, h, mv, channels, n, mn, mx, sum.toDouble / n)
      }

    /** Raster-retaining decode for transform operators (resize, crop):
      * same shared header parse, plus a copy of the sample bytes.
      */
    def decodeRaster(id: Long, bytes: Array[Byte]): Option[PnmRaster] =
      parseHeader(bytes).map { case (fmt, w, h, mv, channels, pos) =>
        val n = w * h * channels
        PnmRaster(id, fmt, w, h, mv, channels,
          java.util.Arrays.copyOfRange(bytes, pos, pos + n))
      }

    /** Re-encode a raster as canonical binary PNM: `P5|P6\n<w> <h>\n<mv>\n`
      * + samples. `decode(encode(r))` reproduces r's header and stats —
      * the invariant MultimodalSpec pins.
      */
    def encode(r: PnmRaster): Array[Byte] = {
      val header = s"${r.format}\n${r.width} ${r.height}\n${r.maxVal}\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + r.pixels.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(r.pixels, 0, out, header.length, r.pixels.length)
      out
    }

    /** Nearest-neighbor resize to (w2, h2): target sample (ty, tx)
      * reads source (⌊ty·h/h2⌋, ⌊tx·w/w2⌋), per channel — the standard
      * box-free NN mapping (identity when w2 = w, h2 = h). Linear in
      * the OUTPUT size, so a thumbnail pass over 100 TB of media costs
      * the decode plus O(thumb) per row.
      */
    def resizeNearest(r: PnmRaster, w2: Int, h2: Int): PnmRaster = {
      require(w2 > 0 && h2 > 0, s"bad target ${w2}x$h2")
      val out = new Array[Byte](w2 * h2 * r.channels)
      var ty = 0
      while (ty < h2) {
        val sy = (ty.toLong * r.height / h2).toInt
        var tx = 0
        while (tx < w2) {
          val sx = (tx.toLong * r.width / w2).toInt
          val src = (sy * r.width + sx) * r.channels
          val dst = (ty * w2 + tx) * r.channels
          var c = 0
          while (c < r.channels) { out(dst + c) = r.pixels(src + c); c += 1 }
          tx += 1
        }
        ty += 1
      }
      PnmRaster(r.id, r.format, w2, h2, r.maxVal, r.channels, out)
    }

    /** Center crop to (w2, h2): origin ((w−w2)/2, (h−h2)/2), integer
      * floor — the deterministic eval-time crop (training-time random
      * crops would thread a seeded origin through instead).
      */
    def cropCenter(r: PnmRaster, w2: Int, h2: Int): PnmRaster = {
      require(w2 > 0 && h2 > 0 && w2 <= r.width && h2 <= r.height,
        s"bad crop ${w2}x$h2 of ${r.width}x${r.height}")
      val x0 = (r.width - w2) / 2
      val y0 = (r.height - h2) / 2
      val out = new Array[Byte](w2 * h2 * r.channels)
      var ty = 0
      while (ty < h2) {
        var tx = 0
        while (tx < w2) {
          val src = ((y0 + ty) * r.width + (x0 + tx)) * r.channels
          val dst = (ty * w2 + tx) * r.channels
          var c = 0
          while (c < r.channels) { out(dst + c) = r.pixels(src + c); c += 1 }
          tx += 1
        }
        ty += 1
      }
      PnmRaster(r.id, r.format, w2, h2, r.maxVal, r.channels, out)
    }

    /** Horizontal mirror: out(y, x) = in(y, w−1−x), per channel. */
    def flipHorizontal(r: PnmRaster): PnmRaster = {
      val out = new Array[Byte](r.pixels.length)
      var y = 0
      while (y < r.height) {
        var x = 0
        while (x < r.width) {
          val src = (y * r.width + (r.width - 1 - x)) * r.channels
          val dst = (y * r.width + x) * r.channels
          var c = 0
          while (c < r.channels) { out(dst + c) = r.pixels(src + c); c += 1 }
          x += 1
        }
        y += 1
      }
      PnmRaster(r.id, r.format, r.width, r.height, r.maxVal, r.channels, out)
    }
  }

  /** Full decoded raster (header + samples) for transform operators. */
  final case class PnmRaster(id: Long, format: String, width: Int, height: Int,
      maxVal: Int, channels: Int, pixels: Array[Byte])

  /** Resized-thumbnail stats row: the decode → resize → re-encode →
    * re-decode pipeline's output, plus a position-weighted checksum of
    * the resized samples (Σ (v+1)·(i+1)) that pins every sample to its
    * position — a mean/min/max alone would not catch a transposed or
    * shifted thumbnail.
    */
  final case class MmThumb(id: Long, width: Int, height: Int, minGray: Int,
      maxGray: Int, meanGray: Double, checksum: Long)

  /** Distributed thumbnailing: decode raster → nearest-neighbor resize
    * → re-encode → re-decode (stats) in ONE mapPartitions pass — zero
    * shuffle, and every thumbnail exercises the encode/decode round
    * trip in the production path (not just in the spec).
    */
  def resizePnm(ds: Dataset[(Long, Array[Byte])], w2: Int, h2: Int): Dataset[MmThumb] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      for {
        raster <- PnmCodec.decodeRaster(id, bytes)
        resized = PnmCodec.resizeNearest(raster, w2, h2)
        stats <- PnmCodec.decode(id, PnmCodec.encode(resized))
      } yield {
        var cks = 0L
        var i = 0
        while (i < resized.pixels.length) {
          cks += ((resized.pixels(i) & 0xFF) + 1L) * (i + 1); i += 1
        }
        MmThumb(id, stats.width, stats.height, stats.minGray, stats.maxGray,
          stats.meanGray, cks)
      }
    })
  }

  final case class MmEdges(id: Long, width: Int, height: Int,
      nInterior: Long, edgeEnergy: Long, maxGrad: Long)

  /** Sobel edge energy over a gray PNM raster — the 3×3 convolution
    * feature-extraction step of an image-quality / blur-detection
    * pipeline, run with the REAL codec per partition inside the scan
    * stage (zero shuffle, like every multimodal kernel here). Energy
    * is the INTEGER Σ(¦Gx¦+¦Gy¦) over interior pixels (the L1 gradient
    * magnitude — no sqrt, so the statistic is exact on any engine) and
    * maxGrad pins the hottest edge. Grayscale (P5/P2) only — callers
    * feed single-channel rasters.
    */
  def sobelPnm(ds: Dataset[(Long, Array[Byte])]): Dataset[MmEdges] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      PnmCodec.decodeRaster(id, bytes).filter(_.channels == 1).map { r =>
        def p(x: Int, y: Int): Int = r.pixels(y * r.width + x) & 0xff
        var energy = 0L; var maxG = 0L; var n = 0L
        var y = 1
        while (y < r.height - 1) {
          var x = 1
          while (x < r.width - 1) {
            val gx = (p(x + 1, y - 1) + 2 * p(x + 1, y) + p(x + 1, y + 1)
              - p(x - 1, y - 1) - 2 * p(x - 1, y) - p(x - 1, y + 1)).toLong
            val gy = (p(x - 1, y + 1) + 2 * p(x, y + 1) + p(x + 1, y + 1)
              - p(x - 1, y - 1) - 2 * p(x, y - 1) - p(x + 1, y - 1)).toLong
            val g = math.abs(gx) + math.abs(gy)
            energy += g; if (g > maxG) maxG = g; n += 1
            x += 1
          }
          y += 1
        }
        MmEdges(id, r.width, r.height, n, energy, maxG)
      }
    })
  }

  final case class MmHash(id: Long, fp: Long)

  /** Perceptual difference-hash (dHash, Krawetz 2013's public
    * description of the gradient hash): decode → nearest-resize to an
    * 8×8 grayscale grid → one bit per horizontal adjacent-pixel
    * comparison (7 per row × 8 rows = 56 bits, deliberately inside a
    * non-negative BIGINT so the banded SQL replay needs no unsigned
    * tricks). Multi-channel rasters hash channel 0 — the hash is a
    * structural signature, not a colorimetric one. Zero shuffle: one
    * mapPartitions pass in the scan stage, the [[resizePnm]] posture.
    * Near-duplicate pairing is downstream pigeonhole banding (4 × 14
    * bits ⇒ complete for Hamming ≤ 3), the
    * [[graft.queries.PipelineQueries.docSimHashPortable]] chunk-join
    * device on an image fingerprint.
    */
  def dHashPnm(ds: Dataset[(Long, Array[Byte])]): Dataset[MmHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      PnmCodec.decodeRaster(id, bytes).map(raster => MmHash(id, dHash56(raster)))
    })
  }

  /** The 56-bit gradient-hash kernel [[dHashPnm]] and [[sceneCuts]]
    * share: NN-resize to the 8×8 grid, one bit per horizontal
    * adjacent-pixel comparison.
    */
  private def dHash56(raster: PnmRaster): Long = {
    val g = PnmCodec.resizeNearest(raster, 8, 8)
    var fp = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 7) {
        val a = g.pixels((y * 8 + x) * g.channels) & 0xFF
        val b = g.pixels((y * 8 + x + 1) * g.channels) & 0xFF
        if (a < b) fp |= 1L << (y * 7 + x)
        x += 1
      }
      y += 1
    }
    fp
  }

  final case class MmScenes(id: Long, nFrames: Int, nScenes: Int, keyframes: String)

  /** Scene-cut detection + keyframe sampling over a multi-frame
    * "video" container — the frame-sample step of a media training
    * pipeline (PySceneDetect's content-detector shape, re-expressed
    * over the repo's real codec): the payload is a CONCATENATION of
    * complete binary PNM frames, walked sequentially with the shared
    * header parser (absolute offsets — no per-frame copy). Per frame,
    * the [[dHash56]] gradient fingerprint; a frame OPENS A SCENE when
    * its Hamming distance to the previous frame's hash exceeds
    * `maxHamming` (frame 0 always opens scene 0) — the perceptual
    * analog of a pixel-delta threshold, robust to the small jitter a
    * codec introduces. Keyframes = each scene's first frame index,
    * comma-joined. One pass per row in the scan stage — decode, hash,
    * compare — zero shuffle; state per row is ONE previous hash, so a
    * 100-TB media sweep costs exactly the decode. A payload whose
    * walk hits an undecodable frame is dropped whole (the
    * [[decodePnm]] quarantine convention: pair with a left_anti join
    * to collect them).
    */
  def sceneCuts(ds: Dataset[(Long, Array[Byte])], maxHamming: Int): Dataset[MmScenes] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      var off = 0
      var n = 0
      var prev = -1L
      val keys = new scala.collection.mutable.ArrayBuffer[Int]
      var bad = bytes == null || bytes.isEmpty
      while (!bad && off < bytes.length) {
        PnmCodec.parseHeader(bytes, off) match {
          case Some((fmt, w, h, mv, channels, rasterOff)) =>
            val nPix = w * h * channels
            val raster = PnmRaster(id, fmt, w, h, mv, channels,
              java.util.Arrays.copyOfRange(bytes, rasterOff, rasterOff + nPix))
            val fp = dHash56(raster)
            if (prev < 0 || java.lang.Long.bitCount(prev ^ fp) > maxHamming) keys += n
            prev = fp
            n += 1
            off = rasterOff + nPix
          case None => bad = true
        }
      }
      if (bad) None else Some(MmScenes(id, n, keys.length, keys.mkString(",")))
    })
  }

  /** Distributed eval-time augmentation: decode raster → center crop →
    * horizontal flip → re-encode → re-decode in ONE mapPartitions pass
    * (same zero-shuffle shape as [[resizePnm]]; a training-time
    * pipeline would swap the deterministic crop origin for a seeded
    * one and fan out one row per augmentation).
    */
  def augmentPnm(ds: Dataset[(Long, Array[Byte])], w2: Int, h2: Int): Dataset[MmThumb] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      for {
        raster <- PnmCodec.decodeRaster(id, bytes)
        aug = PnmCodec.flipHorizontal(PnmCodec.cropCenter(raster, w2, h2))
        stats <- PnmCodec.decode(id, PnmCodec.encode(aug))
      } yield {
        var cks = 0L
        var i = 0
        while (i < aug.pixels.length) {
          cks += ((aug.pixels(i) & 0xFF) + 1L) * (i + 1); i += 1
        }
        MmThumb(id, stats.width, stats.height, stats.minGray, stats.maxGray,
          stats.meanGray, cks)
      }
    })
  }

  /** Distributed decode: one codec pass per partition over (id, payload)
    * rows — the same mapPartitions shape a heavier libjpeg/ffmpeg
    * binding would use (per-partition init, sequential batch loop).
    * Undecodable payloads are dropped; pair with a `left_anti` join on
    * the decoded ids to quarantine them instead.
    */
  def decodePnm(ds: Dataset[(Long, Array[Byte])]): Dataset[PnmImage] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.flatMap { case (id, bytes) => PnmCodec.decode(id, bytes) })
  }

  /** Decoded audio metadata + sample statistics for one media row.
    * `meanSample` averages ALL channels' samples interleaved (a stereo
    * file's mean mixes both channels — the container-level number, not
    * a per-channel DSP).
    */
  final case class WavAudio(id: Long, sampleRate: Int, channels: Int,
      bits: Int, nFrames: Long, nSamples: Long, minSample: Int,
      maxSample: Int, meanSample: Double)

  /** Real audio codec: RIFF/WAVE with 16-bit little-endian integer PCM.
    * A proper chunk walk — `RIFF` magic + `WAVE` form type, then
    * (id, size, payload, even-byte pad) chunks in any order with
    * unknown chunks (LIST, fact, cue …) skipped — so files with
    * metadata chunks between `fmt ` and `data` decode correctly.
    * Returns None for anything that is not a complete valid PCM16 file:
    * bad magic, missing/short `fmt ` or `data`, non-PCM audio format,
    * bits ≠ 16, zero/negative rates or channel counts, a data chunk
    * not frame-aligned, or a truncated payload.
    */
  object WavCodec extends Serializable {
    private def u16(b: Array[Byte], p: Int): Int =
      (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
    private def u32(b: Array[Byte], p: Int): Long =
      (b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8) |
        ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)
    private def tag(b: Array[Byte], p: Int): String =
      new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Validated chunk walk shared by the stats decode and the frame
      * featurizer: (channels, sampleRate, blockAlign, dataOff, dataLen).
      */
    private[operators] def parseChunks(
        bytes: Array[Byte]): Option[(Int, Int, Int, Int, Long)] = {
      if (bytes == null || bytes.length < 12) return None
      if (tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
      var pos = 12
      var fmtOk = false
      var channels = 0; var sampleRate = 0; var blockAlign = 0; var bits = 0
      var dataOff = -1; var dataLen = 0L
      while (pos + 8 <= bytes.length) {
        val cid = tag(bytes, pos)
        val sz = u32(bytes, pos + 4)
        val body = pos + 8
        if (body + sz > bytes.length) return None // truncated chunk
        cid match {
          case "fmt " =>
            if (sz < 16) return None
            val audioFormat = u16(bytes, body)
            channels = u16(bytes, body + 2)
            sampleRate = u32(bytes, body + 4).toInt
            blockAlign = u16(bytes, body + 12)
            bits = u16(bytes, body + 14)
            if (audioFormat != 1 || bits != 16 || channels <= 0 ||
              sampleRate <= 0 || blockAlign != channels * 2) return None
            fmtOk = true
          case "data" =>
            dataOff = body; dataLen = sz
          case _ => // LIST / fact / cue … — skip
        }
        pos = body + sz.toInt + (sz.toInt & 1) // chunks pad to even
      }
      if (!fmtOk || dataOff < 0) return None
      if (dataLen % blockAlign != 0) return None
      if (dataLen == 0) return None
      Some((channels, sampleRate, blockAlign, dataOff, dataLen))
    }

    def decode(id: Long, bytes: Array[Byte]): Option[WavAudio] =
      parseChunks(bytes).map { case (channels, sampleRate, blockAlign, dataOff, dataLen) =>
        val nSamples = dataLen / 2
        var mn = Int.MaxValue; var mx = Int.MinValue; var sum = 0L
        var i = dataOff
        val end = dataOff + dataLen.toInt
        while (i < end) {
          val v = (u16(bytes, i) << 16) >> 16 // sign-extend LE i16
          if (v < mn) mn = v
          if (v > mx) mx = v
          sum += v
          i += 2
        }
        WavAudio(id, sampleRate, channels, 16, dataLen / blockAlign,
          nSamples, mn, mx, sum.toDouble / nSamples)
      }

    /** Per-window frame features straight off the byte buffer (no
      * sample array materialized): windows of `framesPerWindow` audio
      * frames (one frame = one sample per channel, the DSP convention);
      * per window the frame count, peak |sample|, Σ sample², and RMS.
      * The trailing partial window is emitted with its true frame
      * count. IEEE sqrt is correctly rounded on every engine, so the
      * rounded RMS replays bit-identically in SQL.
      */
    def frameFeatures(id: Long, bytes: Array[Byte],
        framesPerWindow: Int): Iterator[WavFrame] = {
      require(framesPerWindow > 0, s"bad window $framesPerWindow")
      parseChunks(bytes) match {
        case None => Iterator.empty
        case Some((channels, _, blockAlign, dataOff, dataLen)) =>
          val nFrames = (dataLen / blockAlign).toInt
          val out = Iterator.range(0, (nFrames + framesPerWindow - 1) / framesPerWindow)
          out.map { win =>
            val f0 = win * framesPerWindow
            val f1 = math.min(f0 + framesPerWindow, nFrames)
            var peak = 0; var energy = 0L
            var i = dataOff + f0 * blockAlign
            val end = dataOff + f1 * blockAlign
            while (i < end) {
              val v = (u16(bytes, i) << 16) >> 16
              val a = math.abs(v)
              if (a > peak) peak = a
              energy += v.toLong * v
              i += 2
            }
            val n = (f1 - f0).toLong * channels
            WavFrame(id, win, f1 - f0, peak, energy,
              math.sqrt(energy.toDouble / n))
          }
      }
    }
  }

  /** One analysis window of PCM audio: frame count, peak amplitude,
    * energy (Σ sample²) and RMS over all channels interleaved.
    */
  final case class WavFrame(id: Long, win: Int, nFrames: Int, peak: Int,
      energy: Long, rms: Double)

  /** Distributed audio frame featurization: the windowed-energy /
    * peak / RMS pass a speech-quality or silence-trim filter runs
    * before training — per-partition over the payload bytes, zero
    * shuffle, output linear in audio length / window size.
    */
  def wavFrameFeatures(ds: Dataset[(Long, Array[Byte])],
      framesPerWindow: Int): Dataset[WavFrame] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      WavCodec.frameFeatures(id, bytes, framesPerWindow)
    })
  }

  /** Distributed audio decode — same per-partition batch-loop shape as
    * [[decodePnm]]; swap [[WavCodec]] for an ffmpeg binding and the
    * plumbing (binary column in, typed stats row out, zero shuffle)
    * is unchanged.
    */
  def decodeWav(ds: Dataset[(Long, Array[Byte])]): Dataset[WavAudio] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.flatMap { case (id, bytes) => WavCodec.decode(id, bytes) })
  }

  /** Audio delta-sign fingerprint — the [[dHashPnm]] idea on a
    * waveform (the core move of Chromaprint-family audio hashes: hash
    * the SIGN of successive-feature deltas, which survives gain
    * changes exactly as the image gradient hash survives brightness
    * shifts): one bit per consecutive-sample comparison over the
    * first 57 s16 samples (56 bits, capped at the clip length), in
    * the same single scan-stage mapPartitions pass. Together with
    * MinHash/SimHash (text) and dHash (image) this completes the
    * near-dup trifecta across the three modalities, all pairing
    * through the same 4-chunk pigeonhole band join.
    */
  def audioHashWav(ds: Dataset[(Long, Array[Byte])]): Dataset[MmHash] = {
    import ds.sparkSession.implicits._
    def s16(b: Array[Byte], p: Int): Int =
      ((b(p) & 0xFF) | (b(p + 1) << 8)).toShort.toInt
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      WavCodec.parseChunks(bytes).map { case (_, _, _, off, len) =>
        val n = (len / 2).toInt
        val bits = math.min(56, n - 1)
        var fp = 0L
        var i = 0
        while (i < bits) {
          if (s16(bytes, off + 2 * i) < s16(bytes, off + 2 * (i + 1))) fp |= 1L << i
          i += 1
        }
        MmHash(id, fp)
      }
    })
  }
}
