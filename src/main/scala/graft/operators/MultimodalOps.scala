package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/** One media record as seen by the partition-local decoder: a real
  * container-format payload (BMP or WAV bytes) plus its kind tag.
  */
case class MediaBlob(doc_id: Long, kind: String, payload: Array[Byte])

/** Decoded per-record features. `width`/`height` are the BMP header
  * dimensions (None for audio); `sample_rate` is the WAV fmt-chunk rate
  * (None for images). Stats are exact integers over the decoded units —
  * unsigned pixel bytes for BMP, signed 16-bit samples for WAV — so the
  * relation hashes deterministically against a closed-form oracle.
  */
case class MediaDecoded(doc_id: Long, kind: String,
                        width: Option[Long], height: Option[Long],
                        sample_rate: Option[Long],
                        n_units: Long, sum_units: Long,
                        min_unit: Long, max_unit: Long)

/** Multimodal-column operators: image/audio/video-style payloads modeled
  * as opaque `binary` columns with typed metadata, plus the Spark-side
  * plumbing a real decode pipeline needs (schema, frame sampling,
  * partition-batched feature extraction).
  *
  * The decode step is a REAL pure-JVM container parser for three
  * formats: 24-bpp BMP ([[decodeBmp]] — header fields read from the
  * bytes, padded row stride walked, stats over pixel bytes), PCM16 WAV
  * ([[decodeWav]] — RIFF chunk walk, fmt parse, signed 16-bit
  * samples), and — since r16 — baseline JFIF JPEG ([[JpegCodec]]: a
  * complete Huffman + dequant + IDCT + upsample + color-convert
  * decoder, no codec library; the M21 section below). The formats
  * still out (FLAC/H.264) would slot into the same per-kind dispatch
  * in [[decodeMedia]], exactly as JPEG did.
  *
  * Scale notes: payload columns ride along untouched until the operator
  * that needs them — narrow projections everywhere else keep Parquet
  * column pruning effective (a metadata-only query never reads payload
  * pages). Frame sampling is an expression (`transform` + `substr`), so
  * it runs inside codegen with zero shuffles.
  */
object MultimodalOps {

  val FrameStride = 32
  val FrameLen = 16

  /** documents → media frame: payload = UTF-8 bytes of `text` (the
    * deterministic stand-in for real image/audio bytes), metadata typed
    * and derived reproducibly from doc_id/source.
    */
  def media(docs: DataFrame): DataFrame = {
    // byte_len is the OCTET length of the payload (length() on a binary
    // column counts bytes), not the character count of `text` — for
    // non-ASCII text these differ, and all frame math slices bytes
    val len = length(col("text").cast("binary")).cast("long")
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      when(col("source") === "src0", "png")
        .when(col("source") === "src1", "jpeg")
        .when(col("source") === "src2", "wav")
        .when(col("source") === "src3", "mp4")
        .otherwise("bin").as("format"),
      (lit(16L) + (col("doc_id").bitwiseAND(lit(63L))) * 4L).as("width"),
      (lit(16L) + (shiftright(col("doc_id"), 3).bitwiseAND(lit(63L))) * 4L)
        .as("height"),
      len.as("byte_len"))
  }

  /** Number of full frames a payload yields at (stride, frameLen). */
  def nFrames(byteLen: Column): Column =
    when(byteLen >= FrameLen,
      ((byteLen - FrameLen) / FrameStride).cast("long") + 1L)
      .otherwise(0L)

  /** Typed metadata projection incl. a "resize" transform — metadata
    * math only, payload column never read (check ReadSchema in explain).
    */
  def mediaMeta(docs: DataFrame): DataFrame =
    media(docs).select(
      col("doc_id"), col("format"), col("width"), col("height"),
      greatest(lit(1L), shiftright(col("width"), 1)).as("resized_width"),
      greatest(lit(1L), shiftright(col("height"), 1)).as("resized_height"),
      col("byte_len"),
      sha2(col("payload"), 256).as("sha"),
      nFrames(col("byte_len")).as("n_frames"))

  /** Frame sampling: slice `frameLen` bytes every `stride` bytes. The
    * per-frame sha256 stands in for the decoded frame tensor.
    */
  def mediaFrames(docs: DataFrame): DataFrame = {
    val m = media(docs)
    val nf = nFrames(col("byte_len"))
    val frames = when(nf >= 1L,
      transform(sequence(lit(0L), nf - 1L),
        i => struct(i.as("frame_idx"),
          sha2(substr(col("payload"), i * FrameStride + 1L, lit(FrameLen)),
            256).as("frame_sha"))))
      .otherwise(array().cast("array<struct<frame_idx:bigint,frame_sha:string>>"))
    m.select(col("doc_id"), explode(frames).as("f"))
      .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
        col("f.frame_sha").as("frame_sha"))
  }

  // ------------------------------------------------- real decode (M3)

  /** Deterministic real-format payload generator — the test fixture for
    * the decoder below. Even doc_ids become 24-bpp bottom-up BMPs
    * (width 4–8 px so the 4-byte row stride actually pads), odd doc_ids
    * become PCM16 mono WAVs; pixel/sample values follow a closed-form
    * recurrence in (doc_id, index) so a SQL oracle can recompute the
    * decoded statistics without parsing a byte. The ENCODERS are the
    * fixture; the DECODERS are the operator under test — they see only
    * the bytes and recover everything from the headers.
    */
  def encodeBmp(id: Long): Array[Byte] = {
    val w = (4 + id % 5).toInt
    val h = (2 + id % 3).toInt
    val rowBytes = 3 * w
    val stride = (rowBytes + 3) & ~3
    val dataSize = stride * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + dataSize)          // file size
      .putInt(0)                      // reserved
      .putInt(54)                     // pixel-data offset
      .putInt(40)                     // BITMAPINFOHEADER size
      .putInt(w).putInt(h)            // positive height = bottom-up
      .putShort(1)                    // planes
      .putShort(24)                   // bits per pixel
      .putInt(0)                      // BI_RGB, uncompressed
      .putInt(dataSize)
      .putInt(2835).putInt(2835)      // 72 dpi
      .putInt(0).putInt(0)
    var k = 0L
    (0 until h).foreach { _ =>
      (0 until rowBytes).foreach { _ =>
        buf.put(((id * 7 + k * 13) % 256).toByte); k += 1
      }
      (rowBytes until stride).foreach(_ => buf.put(0.toByte))
    }
    buf.array()
  }

  val WavRate = 8000

  def encodeWav(id: Long): Array[Byte] = {
    val n = (64 + id % 64).toInt
    val dataLen = 2 * n
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                    // PCM
      .putShort(1)                    // mono
      .putInt(WavRate)
      .putInt(WavRate * 2)            // byte rate
      .putShort(2)                    // block align
      .putShort(16)                   // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until n).foreach { i =>
      buf.putShort((((id * 31 + i.toLong * 17) % 4096) - 2048).toShort)
    }
    buf.array()
  }

  /** documents → one real binary payload per doc (BMP/WAV alternating
    * on doc_id parity). Imperative generation is fine here — this is
    * fixture synthesis, not the measured operator.
    */
  def mediaBinary(docs: DataFrame)
  : org.apache.spark.sql.Dataset[MediaBlob] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      if (id % 2 == 0) MediaBlob(id, "bmp", encodeBmp(id))
      else MediaBlob(id, "wav", encodeWav(id))
    }
  }

  /** BMP decode: header fields are READ from the bytes (offset 10 =
    * pixel-data offset, 18/22 = width/height, 28 = bpp, 30 =
    * compression), rows walked at the 4-byte-padded stride, padding
    * skipped, stats over the unsigned pixel bytes. Negative header
    * height (top-down storage) is honored — row order never affects
    * the order-invariant stats, but the row COUNT must use |height|.
    */
  def decodeBmp(docId: Long, bytes: Array[Byte]): MediaDecoded = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B' && b.get(1) == 'M',
      s"doc $docId: not a BMP")
    val dataOffset = b.getInt(10)
    val w = b.getInt(18)
    val h = math.abs(b.getInt(22))
    val bpp = b.getShort(28).toInt
    require(bpp == 24 && b.getInt(30) == 0,
      s"doc $docId: unsupported BMP variant (bpp=$bpp)")
    val rowBytes = 3 * w
    val stride = (rowBytes + 3) & ~3
    var sum = 0L; var min = Long.MaxValue; var max = Long.MinValue
    var r = 0
    while (r < h) {
      var i = dataOffset + r * stride
      val end = i + rowBytes
      while (i < end) {
        val v = (bytes(i) & 0xff).toLong
        sum += v; if (v < min) min = v; if (v > max) max = v
        i += 1
      }
      r += 1
    }
    val n = rowBytes.toLong * h
    MediaDecoded(docId, "bmp", Some(w.toLong), Some(h.toLong), None,
      n, sum, if (n == 0) 0L else min, if (n == 0) 0L else max)
  }

  /** WAV decode: RIFF/WAVE magic checked, then a generic chunk walk —
    * fmt parsed for (channels, rate, bits), data read as little-endian
    * signed 16-bit samples. A chunk walk (not fixed offsets) is the
    * honest parser: real WAV files carry LIST/fact chunks between fmt
    * and data.
    */
  def decodeWav(docId: Long, bytes: Array[Byte]): MediaDecoded = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(bytes, off, 4, "US-ASCII")
    require(bytes.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"doc $docId: not a WAV")
    var off = 12
    var rate = 0L; var bits = 0; var channels = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= bytes.length) {
      val id = tag(off); val len = b.getInt(off + 4)
      id match {
        case "fmt " =>
          require(b.getShort(off + 8) == 1,
            s"doc $docId: non-PCM WAV")
          channels = b.getShort(off + 10).toInt
          rate = b.getInt(off + 12).toLong
          bits = b.getShort(off + 22).toInt
        case "data" => dataOff = off + 8; dataLen = len
        case _ => () // skip LIST/fact/etc.
      }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    require(dataOff >= 0 && bits == 16 && channels == 1,
      s"doc $docId: unsupported WAV shape")
    val n = dataLen / 2
    var sum = 0L; var min = Long.MaxValue; var max = Long.MinValue
    var i = 0
    while (i < n) {
      val v = b.getShort(dataOff + 2 * i).toLong
      sum += v; if (v < min) min = v; if (v > max) max = v
      i += 1
    }
    MediaDecoded(docId, "wav", None, None, Some(rate),
      n.toLong, sum, if (n == 0) 0L else min, if (n == 0) 0L else max)
  }

  /** Partition-batched decode over the opaque payloads — the
    * `mapPartitions` shape a vectorized decoder wants: records are
    * processed in fixed-size batches (amortizing per-batch codec
    * setup), one iterator pass, no driver collection. This is the one
    * operator family where imperative per-partition code beats
    * expressions (byte-level container parsing isn't expressible in
    * Catalyst), so `mapPartitions` is the honest tool (SURVEY.md §7.3
    * last-resort rule). Swapping in a JPEG/FLAC codec touches only the
    * per-kind decode dispatch.
    */
  val FeatureBatchSize = 64

  def decodeMedia(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[MediaDecoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        // per-batch codec init would happen here, once per batch
        batch.iterator.map { rec =>
          rec.kind match {
            case "bmp" => decodeBmp(rec.doc_id, rec.payload)
            case "wav" => decodeWav(rec.doc_id, rec.payload)
            case "jpeg" => decodeJpegUnits(rec.doc_id, rec.payload)
            case "png" => decodePngUnits(rec.doc_id, rec.payload)
            case k => throw new IllegalArgumentException(
              s"doc ${rec.doc_id}: no decoder for kind $k")
          }
        }
      }
    }
  }

  /** M3 end-to-end: synthesize real BMP/WAV payloads, decode them back
    * through the header-parsing path, emit exact-integer stats. The
    * oracle recomputes the same stats from the generative closed form —
    * a differential test of the full encode→decode roundtrip.
    */
  def mediaFeatures(docs: DataFrame): DataFrame =
    decodeMedia(mediaBinary(docs)).toDF()

  // ------------------------------- M11: pixel-value histogram (BMP)

  /** Decoded 8-bin pixel-value histogram row. */
  case class MediaHist(doc_id: Long, width: Long, height: Long,
                       n_pixels: Long, b0: Long, b1: Long, b2: Long,
                       b3: Long, b4: Long, b5: Long, b6: Long, b7: Long)

  /** BMP pixel histogram: the [[decodeBmp]] header/stride walk, but
    * binning every unsigned pixel byte into value div 32 — the
    * distribution profile (washed-out, clipped, or banded images show
    * up as mass piled into few bins long before a human looks).
    */
  def decodeBmpHist(docId: Long, bytes: Array[Byte]): MediaHist = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B' && b.get(1) == 'M',
      s"doc $docId: not a BMP")
    val dataOffset = b.getInt(10)
    val w = b.getInt(18)
    val h = math.abs(b.getInt(22))
    require(b.getShort(28).toInt == 24 && b.getInt(30) == 0,
      s"doc $docId: unsupported BMP variant")
    val rowBytes = 3 * w
    val stride = (rowBytes + 3) & ~3
    val bins = new Array[Long](8)
    var r = 0
    while (r < h) {
      var i = dataOffset + r * stride
      val end = i + rowBytes
      while (i < end) {
        bins((bytes(i) & 0xff) >> 5) += 1L
        i += 1
      }
      r += 1
    }
    MediaHist(docId, w.toLong, h.toLong, rowBytes.toLong * h,
      bins(0), bins(1), bins(2), bins(3), bins(4), bins(5), bins(6),
      bins(7))
  }

  /** M11: per-image pixel-value histogram census over REAL decoded
    * bytes — the image-quality profile a curation pipeline reads
    * before training (uniform = healthy synthetic gradient; mass in
    * one bin = constant/clipped frame): 8 bins of value div 32 per
    * image plus the dominant-bin share. Decode rides the M3
    * `mapPartitions` batch shape; the oracle recomputes every bin from
    * the generative closed form (id·7 + k·13) mod 256 without parsing
    * a byte — the encode→decode differential test, per bin.
    *
    * Scale shape: decode is embarrassingly parallel per partition
    * (batched, no driver collection); the output is one row per image
    * with 8 integer columns; dom_ppm is one integer division.
    */
  def mediaHistogram(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val hist = mediaBinary(docs).filter(col("kind") === "bmp")
      .as[MediaBlob]
      .mapPartitions { it =>
        it.grouped(FeatureBatchSize).flatMap { batch =>
          batch.iterator.map(rec =>
            decodeBmpHist(rec.doc_id, rec.payload))
        }
      }.toDF()
    hist.withColumn("dom_ppm",
      expr("(1000000 * greatest(b0, b1, b2, b3, b4, b5, b6, b7))" +
        " div n_pixels"))
  }

  // ------------------ M16: channel-correlation census (BMP)

  /** Exact integer channel moments per image: sums, squares, and
    * cross products of the B/G/R planes plus the absolute inter-plane
    * gaps (the integer grayscale witness).
    */
  case class MediaChannels(doc_id: Long, n_px: Long,
                           sb: Long, sg: Long, sr: Long,
                           sbb: Long, sgg: Long, srr: Long,
                           sbg: Long, sbr: Long, sgr: Long,
                           gap_bg: Long, gap_br: Long)

  /** M16: per-image channel-correlation census over the REAL BMP
    * decode — the grayscale/tint detector image curation runs before
    * color augmentation or color-conditioned training (a grayscale
    * scan answers every hue probe with noise; a sepia/tint batch
    * skews color statistics corpus-wide): Pearson correlation between
    * the B/G/R planes, plus the INTEGER grayscale witness
    * Σ|b−g| = Σ|b−r| = 0 ⟺ exactly grayscale (no epsilon, no
    * float). All decoder outputs are exact integer moments; each
    * correlation is ONE micro-floored double tree (the R53 moment
    * form — products promoted to double BEFORE multiplying),
    * zero-variance planes guard to 0.
    *
    * Scale shape: the M3/M11 batched `mapPartitions` decode — one
    * scalar pass per blob, one all-integer row per image; the
    * correlations are declarative row-level expressions (whole-stage
    * codegen, no UDF); no shuffle until the caller's orderBy.
    */
  def decodeBmpChannels(docId: Long, bytes: Array[Byte]): MediaChannels = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B' && b.get(1) == 'M',
      s"doc $docId: not a BMP")
    val dataOffset = b.getInt(10)
    val w = b.getInt(18)
    val h = math.abs(b.getInt(22))
    require(b.getShort(28).toInt == 24 && b.getInt(30) == 0,
      s"doc $docId: unsupported BMP variant")
    val stride = (3 * w + 3) & ~3
    require(dataOffset >= 54 && w >= 0 &&
      dataOffset + h.toLong * stride <= bytes.length,
      s"doc $docId: truncated BMP")
    var sb = 0L; var sg = 0L; var sr = 0L
    var sbb = 0L; var sgg = 0L; var srr = 0L
    var sbg = 0L; var sbr = 0L; var sgr = 0L
    var gapBg = 0L; var gapBr = 0L
    var row = 0
    while (row < h) {
      var c = 0
      val base = dataOffset + row * stride
      while (c < w) {
        val vb = (bytes(base + 3 * c) & 0xff).toLong
        val vg = (bytes(base + 3 * c + 1) & 0xff).toLong
        val vr = (bytes(base + 3 * c + 2) & 0xff).toLong
        sb += vb; sg += vg; sr += vr
        sbb += vb * vb; sgg += vg * vg; srr += vr * vr
        sbg += vb * vg; sbr += vb * vr; sgr += vg * vr
        gapBg += math.abs(vb - vg); gapBr += math.abs(vb - vr)
        c += 1
      }
      row += 1
    }
    MediaChannels(docId, w.toLong * h, sb, sg, sr, sbb, sgg, srr,
      sbg, sbr, sgr, gapBg, gapBr)
  }

  def channelCensus(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    def corr(sxy: String, sx: String, sy: String,
             sxx: String, syy: String) = {
      val num = col("n_px").cast("double") * col(sxy) -
        col(sx).cast("double") * col(sy)
      val vx = col("n_px").cast("double") * col(sxx) -
        col(sx).cast("double") * col(sx)
      val vy = col("n_px").cast("double") * col(syy) -
        col(sy).cast("double") * col(sy)
      // vx/vy <= 0 (not exact-equality-to-zero): the moment products
      // exceed 2^53 past ~0.4 MP, where a near-constant plane can
      // round its variance slightly negative — the inequality guards
      // the NaN-from-sqrt path as well as the exact-constant one.
      when(vx <= 0d || vy <= 0d, lit(0L))
        .otherwise(graft.functions.Hashing.micro(num / sqrt(vx * vy)))
    }
    mediaBinary(docs).filter(col("kind") === "bmp")
      .as[MediaBlob]
      .mapPartitions { it =>
        it.grouped(FeatureBatchSize).flatMap { batch =>
          batch.iterator.map(rec =>
            decodeBmpChannels(rec.doc_id, rec.payload))
        }
      }.toDF()
      .withColumn("corr_bg_micro",
        corr("sbg", "sb", "sg", "sbb", "sgg"))
      .withColumn("corr_br_micro",
        corr("sbr", "sb", "sr", "sbb", "srr"))
      .withColumn("corr_gr_micro",
        corr("sgr", "sg", "sr", "sgg", "srr"))
      .withColumn("is_gray",
        when(col("gap_bg") === 0L && col("gap_br") === 0L, 1L)
          .otherwise(0L))
  }

  // ------------------- M15: frame-difference motion census

  /** Exact integer motion row: Σ|byte diff| over consecutive frame
    * pairs, plus the loudest single pair.
    */
  case class MediaMotion(doc_id: Long, n_frames: Long, n_pairs: Long,
                         motion_sum: Long, max_pair_sum: Long)

  /** M15: temporal-activity census over the M2 frame slicing — the
    * static-content detector video curation runs before paying decode
    * or embedding compute: a slideshow, a frozen webcam, or a looping
    * test card reads near-zero inter-frame difference however long the
    * clip, while real footage accumulates motion energy (frame
    * differencing is the classic shot/activity primitive — Zhang,
    * Kankanhalli & Smoliar, ACM MM Systems 1993). Per payload:
    * Σ|bᵢ − bᵢ₊₁| over corresponding bytes of consecutive M2 frames
    * (same FrameLen/FrameStride walk), the loudest single pair (a cut
    * detector's raw signal), and the per-byte mean as one positive
    * integer floor-division.
    *
    * Exactness: all integer — unsigned byte diffs summed in a scalar
    * pass; the oracle recomputes both sums from the payload text via
    * ord(substr(·)) (byte = char for the ASCII test corpus, the M1
    * oracle caveat) — the differential proves the stride walk and the
    * pairing.
    *
    * Scale shape: the M5/M12 batched `mapPartitions` shape — one
    * scalar pass per payload, one all-integer row per doc, no shuffle
    * until the caller's orderBy.
    */
  def frameMotion(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    media(docs).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val n = if (bytes.length >= FrameLen)
            (bytes.length - FrameLen) / FrameStride + 1 else 0
          var total = 0L; var maxPair = 0L
          var i = 0
          while (i < n - 1) {
            var s = 0L; var p = 0
            while (p < FrameLen) {
              s += math.abs((bytes(i * FrameStride + p) & 0xff) -
                (bytes((i + 1) * FrameStride + p) & 0xff))
              p += 1
            }
            total += s
            if (s > maxPair) maxPair = s
            i += 1
          }
          MediaMotion(id, n.toLong, math.max(n - 1, 0).toLong, total,
            maxPair)
        }
      }.toDF()
      .withColumn("motion_mean_micro",
        when(col("n_pairs") > 0,
          expr(s"(1000000 * motion_sum) div (n_pairs * $FrameLen)"))
          .otherwise(lit(0L)))
  }

  // ------------------------- M14: low-energy trim census (WAV)

  /** M14 dial: a window is "low-energy" iff its mean |sample| sits
    * under this bar — sum_abs < LowMeanAbs·n_samples, an INTEGER
    * compare, no division. Half of PCM16-at-12-bit full scale (2048),
    * so the synthetic uniform corpus exercises both verdicts.
    */
  val LowMeanAbs = 1024L

  /** M14: leading/trailing low-energy trim census over the M5 energy
    * frames — the edge-trim accounting audio curation runs before
    * windowing a corpus into training clips (leading room tone and
    * trailing silence dilute token-per-second yield and skew
    * duration-balanced sampling; trimming is the first op in every
    * speech pipeline, cf. SoX `silence`/librosa `effects.trim` —
    * this census answers "how much would trimming reclaim" corpus-wide
    * BEFORE anyone re-encodes audio). Per doc: the first/last
    * above-bar window (−1 sentinel when the whole clip is low), the
    * leading/trailing low run lengths, and the reclaimable sample
    * share as one positive integer floor-division.
    *
    * Exactness: rides the M5 frames' exact integer moments; the
    * low-energy verdict is an integer compare (no division); run
    * bounds are conditional min/max over window indices; trim_ppm one
    * integer floor-division. No doubles anywhere.
    *
    * Scale shape: the M5 decode pass (batched `mapPartitions`, one
    * scalar pass per blob), then two doc-keyed aggregates over the
    * per-doc-bounded frame relation (the second joins the first's
    * run bounds back frame-keyed). Nothing corpus-sized past decode.
    */
  def wavTrimCensus(media: org.apache.spark.sql.Dataset[MediaBlob])
      : DataFrame = {
    val fr = wavEnergyWindows(media).toDF()
    val perWin = fr.select(col("doc_id"), col("window_idx"),
      col("n_samples"),
      (col("sum_abs") < lit(LowMeanAbs) * col("n_samples")).as("is_low"))
      .transform(Materialize.cached)
    val agg = perWin.groupBy("doc_id").agg(
      count(lit(1)).as("n_windows"),
      sum("n_samples").as("n_samples"),
      min(when(!col("is_low"), col("window_idx"))).as("first_loud"),
      max(when(!col("is_low"), col("window_idx"))).as("last_loud"))
    val trimmed = perWin
      .join(agg.select("doc_id", "first_loud", "last_loud"), "doc_id")
      .filter(col("first_loud").isNull ||
        col("window_idx") < col("first_loud") ||
        col("window_idx") > col("last_loud"))
      .groupBy("doc_id").agg(sum("n_samples").as("trim_samples"))
    agg.join(trimmed, Seq("doc_id"), "left")
      .withColumn("trim_samples", coalesce(col("trim_samples"), lit(0L)))
      .select(col("doc_id"), col("n_windows"), col("n_samples"),
        coalesce(col("first_loud"), lit(-1L)).as("first_loud"),
        coalesce(col("last_loud"), lit(-1L)).as("last_loud"),
        col("trim_samples"),
        expr("(1000000 * trim_samples) div n_samples").as("trim_ppm"))
  }

  // --------------------- M13: total-variation sharpness census (BMP)

  /** Decoded gradient-energy row: exact integer total variation of the
    * per-pixel gray values, split by direction (`tv_h` over horizontal
    * neighbor pairs, `tv_v` over vertical), with the pair counts so
    * the per-pixel-pair mean is one integer division downstream.
    */
  case class MediaTv(doc_id: Long, width: Long, height: Long,
                     n_h: Long, n_v: Long, tv_h: Long, tv_v: Long)

  /** BMP total variation: the [[decodeBmp]] header/stride walk, gray
    * per pixel as (b+g+r)/3 (the `dhashBmp` gray), then
    * Σ|∇gray| over horizontally and vertically adjacent pixel pairs.
    * Storage orientation is deliberately NOT flipped here (unlike
    * [[bmpResizeStats]], where box pairing depends on row order): the
    * SET of adjacent row pairs is invariant under a bottom-up flip, so
    * TV computed in file order equals TV in image order — which is
    * also what lets the generative oracle index pixels without header
    * knowledge.
    */
  def decodeBmpTv(docId: Long, bytes: Array[Byte]): MediaTv = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B' && b.get(1) == 'M',
      s"doc $docId: not a BMP")
    val dataOffset = b.getInt(10)
    val w = b.getInt(18)
    val h = math.abs(b.getInt(22))
    require(b.getShort(28).toInt == 24 && b.getInt(30) == 0,
      s"doc $docId: unsupported BMP variant")
    val stride = (3 * w + 3) & ~3
    require(dataOffset >= 54 && w >= 0 &&
      dataOffset + h.toLong * stride <= bytes.length,
      s"doc $docId: truncated BMP")
    def gray(r: Int, c: Int): Int = {
      val base = dataOffset + r * stride + c * 3
      ((bytes(base) & 0xff) + (bytes(base + 1) & 0xff) +
        (bytes(base + 2) & 0xff)) / 3
    }
    var tvH = 0L; var tvV = 0L
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        val g = gray(r, c)
        if (c + 1 < w) tvH += math.abs(gray(r, c + 1) - g)
        if (r + 1 < h) tvV += math.abs(gray(r + 1, c) - g)
        c += 1
      }
      r += 1
    }
    MediaTv(docId, w.toLong, h.toLong, h.toLong * (w - 1),
      (h - 1).toLong * w, tvH, tvV)
  }

  /** M13: per-image gradient-energy (total-variation) census over REAL
    * decoded pixels — the sharpness/blur admission gate image curation
    * runs before spending embedding compute (a blurred or flat frame
    * carries little trainable signal however large; TV per pixel pair
    * is the standard no-reference proxy — Rudin, Osher & Fatemi 1992
    * for the functional): Σ|∇gray| split by direction plus the
    * per-pair mean as one integer floor-division. All-integer outputs;
    * the oracle recomputes both directional sums from the generative
    * closed form (id·7 + k·13) mod 256 — the encode→decode
    * differential, exercising the stride walk and gray reduction.
    *
    * Scale shape: the M3/M11 batched `mapPartitions` decode — one
    * scalar pass per blob, one row per image, no shuffle until the
    * caller's orderBy.
    */
  def mediaTotalVariation(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    mediaBinary(docs).filter(col("kind") === "bmp")
      .as[MediaBlob]
      .mapPartitions { it =>
        it.grouped(FeatureBatchSize).flatMap { batch =>
          batch.iterator.map(rec =>
            decodeBmpTv(rec.doc_id, rec.payload))
        }
      }.toDF()
      .withColumn("tv_pair_micro",
        expr("(1000000 * (tv_h + tv_v)) div (n_h + n_v)"))
  }

  // ------------------------------------- M5: audio frame energy (WAV)

  /** Samples per analysis frame for [[wavEnergyWindows]]. */
  val EnergyWindow = 16

  /** One audio analysis frame: exact-integer energy features over a
    * [[EnergyWindow]]-sample window (the last window may be partial —
    * `n_samples` carries its true width). `sum_sq` is the frame energy
    * (RMS² · n, integer-exact); `sum_abs`/`max_abs` drive silence /
    * clipping detection downstream.
    */
  case class AudioFrame(doc_id: Long, window_idx: Long, n_samples: Long,
                        sum_amp: Long, sum_abs: Long, sum_sq: Long,
                        max_abs: Long)

  /** M5: windowed audio feature extraction — the real-feature refinement
    * of [[decodeWav]]'s whole-file stats: the decoder walks the RIFF
    * chunks exactly as before, but emits per-frame energy rows (the
    * shape every VAD / silence-trim / loudness-normalization pass
    * consumes) instead of one aggregate. Frame features are computed
    * IN the decoder's scalar loop (a real extractor computes energy in
    * native code per frame, not by exploding samples into the engine) —
    * the engine sees ~n/16 feature rows, never n sample rows.
    *
    * Scale shape: `mapPartitions` batched like [[decodeMedia]]; output
    * is a narrow all-integer relation ~16× smaller than the sample
    * count; everything downstream (per-doc rollups, silence censuses)
    * is ordinary partial-agg'd relational work.
    */
  def wavEnergyWindows(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[AudioFrame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "wav").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.flatMap { rec =>
          val d = decodeWavSamples(rec.doc_id, rec.payload)
          d.grouped(EnergyWindow).zipWithIndex.map { case (w, wi) =>
            var sum = 0L; var sabs = 0L; var ssq = 0L; var mabs = 0L
            w.foreach { v =>
              sum += v; val a = math.abs(v); sabs += a; ssq += v * v
              if (a > mabs) mabs = a
            }
            AudioFrame(rec.doc_id, wi.toLong, w.length.toLong,
              sum, sabs, ssq, mabs)
          }
        }
      }
    }
  }

  // ------------------------------- M10: audio zero-crossing rate (WAV)

  case class ZcrStats(doc_id: Long, n_samples: Long, n_cross: Long,
                      zcr_ppm: Long)

  /** M10: per-doc zero-crossing-rate census over the decoded PCM16
    * samples — the classic O(n) voiced/unvoiced + noisiness audio
    * feature (high ZCR ≈ noise/fricatives, low ≈ tonal content), the
    * time-domain complement to M5's energy windows. A crossing is a
    * SIGN-CLASS change between consecutive samples with zero counted
    * non-negative (the convention is part of the contract — ties must
    * break identically in the decoder loop and the oracle's lag
    * window). zcr_ppm = (10⁶ · crossings) div (n − 1): crossings per
    * transition, integer-exact.
    *
    * Scale shape: the same batched `mapPartitions` decode as M5 (the
    * vectorized-codec shape) — one scalar pass per blob, one row out
    * per doc, no shuffle at all until the caller's orderBy.
    */
  def wavZeroCrossings(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[ZcrStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "wav").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec =>
          val d = decodeWavSamples(rec.doc_id, rec.payload)
          var c = 0L
          var i = 1
          while (i < d.length) {
            if ((d(i) >= 0) != (d(i - 1) >= 0)) c += 1
            i += 1
          }
          val n = d.length.toLong
          ZcrStats(rec.doc_id, n, c,
            if (n > 1) (1000000L * c) / (n - 1) else 0L)
        }
      }
    }
  }

  // ----------------------- M17: lag-1 autocorrelation (tonality)

  case class AutocorrStats(doc_id: Long, n_pairs: Long, sx: Long,
                           sy: Long, sxy: Long, sxx: Long, syy: Long)

  /** M17: per-doc lag-1 sample autocorrelation moments over the
    * decoded PCM16 samples — the cheapest tonality/periodicity lens in
    * classical audio analysis (a strongly positive lag-1 r means
    * smooth/tonal content, near zero means broadband noise, strongly
    * negative means Nyquist-rate alternation — aliasing or synthetic
    * artifacts), the frequency-domain complement to M10's ZCR read
    * without an FFT: r(1) is the first point of the autocorrelation
    * function every pitch tracker starts from. Curation reading: a
    * corpus whose "speech" shard reads r(1) ≈ 0 is noise, not speech.
    *
    * The decoder loop emits only EXACT integers — the five Pearson
    * sums over the (sᵢ, sᵢ₊₁) pair stream (the X48 census shape on the
    * lag pairing); r itself is derived in the query layer as the
    * mirrored integer-column tree with the X48 radicand guard.
    *
    * Long headroom: Σsᵢsᵢ₊₁ ≤ n·32768² — same 2⁴³-samples-per-doc
    * ceiling as M12, documented there; DuckDB errors identically.
    *
    * Scale shape: the batched `mapPartitions` decode (M5/M10/M12's
    * vectorized-codec shape) — one scalar pass per blob, one integer
    * row per doc, no shuffle until the caller's orderBy.
    */
  def wavAutocorrStats(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[AutocorrStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "wav").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec =>
          val d = decodeWavSamples(rec.doc_id, rec.payload)
          var sx = 0L; var sy = 0L; var sxy = 0L
          var sxx = 0L; var syy = 0L
          var i = 0
          while (i < d.length - 1) {
            val x = d(i); val y = d(i + 1)
            sx += x; sy += y; sxy += x * y
            sxx += x * x; syy += y * y
            i += 1
          }
          AutocorrStats(rec.doc_id, math.max(0, d.length - 1).toLong,
            sx, sy, sxy, sxx, syy)
        }
      }
    }
  }

  // ------------------------- M20: clipping-run census

  case class ClipRunStats(doc_id: Long, n_samples: Long, n_clip: Long,
                          n_runs: Long, max_run: Long)

  /** M20: per-doc clipped-sample RUN census — the hard-clipping
    * detector M12's counts cannot see: the same 5 % clipped-sample
    * share can be 5 % isolated peaks (benign transients, a limiter
    * doing its job) or one solid squared-off run (true hard clipping
    * — the waveform flat-tops and every harmonic above it is
    * fabricated); audio QA reads the RUN structure, maximal
    * consecutive |s| ≥ bar stretches: n_runs (islands) and max_run
    * (the longest flat-top). One decoder pass, three exact integer
    * counters.
    *
    * Oracle differential: the engine runs the imperative run loop
    * inside the batched decode; the oracle re-derives the SAME
    * integers from the generative sample stream by the classic SQL
    * gaps-and-islands formulation (i − row_number() over clipped rows
    * groups each island) — the two agree only if decode, loop, and
    * the relational islands all match.
    *
    * Scale shape: the batched `mapPartitions` decode — one scalar
    * pass per blob, one integer row per doc, no shuffle until the
    * caller's orderBy.
    */
  def wavClipRuns(media: org.apache.spark.sql.Dataset[MediaBlob],
                  clipAbs: Long)
  : org.apache.spark.sql.Dataset[ClipRunStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "wav").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec =>
          val d = decodeWavSamples(rec.doc_id, rec.payload)
          var nClip = 0L; var nRuns = 0L; var maxRun = 0L
          var run = 0L
          var i = 0
          while (i < d.length) {
            if (math.abs(d(i)) >= clipAbs) {
              nClip += 1; run += 1
              if (run == 1L) nRuns += 1
              if (run > maxRun) maxRun = run
            } else run = 0L
            i += 1
          }
          ClipRunStats(rec.doc_id, d.length.toLong, nClip, nRuns,
            maxRun)
        }
      }
    }
  }

  // --------------------- M19: integer Goertzel tone-energy census

  /** M19 recurrence coefficients c = 2·cos(ω) for the five bins where
    * the Goertzel coefficient is an INTEGER — ω = 0, π/3, π/2, 2π/3, π
    * (normalized frequency f/fs = 0, 1/6, 1/4, 1/3, 1/2; at the
    * corpus's 8 kHz rate: 0, 1333, 2000, 2667, 4000 Hz). Exactly the
    * bins whose whole trajectory stays in exact integers.
    */
  val GoertzelCoefs: Array[Long] = Array(2L, 1L, 0L, -1L, -2L)

  case class GoertzelStats(doc_id: Long, n_samples: Long, p0: Long,
                           p1: Long, p2: Long, p3: Long, p4: Long)

  /** M19: per-doc Goertzel spectral energy at the five integer-
    * coefficient bins — the SPECTRAL lens the M17 Scaladoc itself
    * names as missing ("periodicity without an FFT"): M17's lag-1 r
    * says content is tonal, THIS says WHERE the tone sits — the
    * fixed-bin tone census audio QA runs for hum (DC / mains images),
    * test-tone, and aliasing (Nyquist-adjacent energy) triage, and
    * the Goertzel algorithm (Goertzel 1958) is the standard way to
    * read a few known bins at O(n) per bin without an FFT.
    *
    * Exactness: with c = 2cos(ω) restricted to the integer values
    * {2, 1, 0, −1, −2}, the Goertzel recurrence
    * s_n = x_n + c·s_{n−1} − s_{n−2} runs ENTIRELY in exact Long
    * arithmetic, and the bin power |X(ω)|² =
    * s²_{N−1} + s²_{N−2} − c·s_{N−1}·s_{N−2} is an exact integer.
    * The oracle never runs the recurrence: it computes the SAME
    * integer from the DFT closed form 4·|X|² = C² + w·S² with C, S
    * integer conditional sums over the n-mod-{1,6,4,3,2} sign
    * patterns of 2cos(ωn) and 2sin(ωn)/√(w) (w = 3 for the π/3 bins
    * where sin carries √3/2, else 1) — the two sides agree only if
    * the recurrence, the decode, and the closed form all match
    * (the q_media_features differential discipline).
    *
    * Long headroom: at the resonant worst case (|c| = 2, tone exactly
    * on the bin) |s_n| grows ~ max|x|·n²/2 — ≈ 2⁵⁴ for a 2²⁰-sample
    * doc at full PCM16 scale — and the power's s² terms need
    * |s| < 2³¹·⁵, so full-scale resonant content is exact only to
    * ~2⁹ samples (amplitude-A resonant content to n ≈ √(2³²·⁵/A);
    * non-resonant content keeps s bounded by the tone's off-resonance
    * envelope and is exact at realistic lengths). The recurrence and
    * the power expression therefore run under Math.addExact /
    * multiplyExact (ADVICE r14): past the headroom this engine throws
    * ArithmeticException exactly where the DuckDB oracle errors on
    * BIGINT overflow, instead of the two diverging silently on
    * wrapped values — longer resonant docs should window first.
    *
    * Scale shape: the batched `mapPartitions` decode (the
    * vectorized-codec shape) — one scalar pass per blob per bin (5
    * sequential integer recurrences), one integer row per doc, no
    * shuffle until the caller's orderBy.
    */
  def wavGoertzelStats(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[GoertzelStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "wav").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec =>
          val d = decodeWavSamples(rec.doc_id, rec.payload)
          val p = GoertzelCoefs.map { c =>
            var s1 = 0L; var s2 = 0L
            var i = 0
            while (i < d.length) {
              val s0 = Math.subtractExact(
                Math.addExact(d(i).toLong, Math.multiplyExact(c, s1)), s2)
              s2 = s1; s1 = s0
              i += 1
            }
            Math.subtractExact(
              Math.addExact(Math.multiplyExact(s1, s1),
                Math.multiplyExact(s2, s2)),
              Math.multiplyExact(c, Math.multiplyExact(s1, s2)))
          }
          GoertzelStats(rec.doc_id, d.length.toLong,
            p(0), p(1), p(2), p(3), p(4))
        }
      }
    }
  }

  // ----------------------------- M18: DC offset + half-split drift

  case class DcStats(doc_id: Long, n_samples: Long, sum_all: Long,
                     sum_first: Long, sum_second: Long)

  /** M18: per-doc DC offset + half-split drift over the decoded PCM16
    * samples — the two bias integrity checks audio QA runs before
    * spectral work: a non-zero mean (DC offset — a miscalibrated ADC
    * or buggy converter) wastes headroom and leaks a 0 Hz spike into
    * every downstream spectrogram, and a mean that DRIFTS between the
    * recording's halves indicates charging-capacitor/thermal drift or
    * a splice of mismatched sources (the audio twin of X73's text
    * splice lens). Both derive from three exact integer sums (whole,
    * first half ⌊n/2⌋, second half) emitted by one decoder pass; the
    * micro forms are mirrored single trees in the query layer.
    *
    * Scale shape: the batched `mapPartitions` decode (the
    * vectorized-codec shape) — one scalar pass per blob, one integer
    * row per doc, no shuffle until the caller's orderBy.
    */
  def wavDcStats(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[DcStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "wav").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec =>
          val d = decodeWavSamples(rec.doc_id, rec.payload)
          val half = d.length / 2
          var sa = 0L; var sf = 0L
          var i = 0
          while (i < d.length) {
            sa += d(i); if (i < half) sf += d(i)
            i += 1
          }
          DcStats(rec.doc_id, d.length.toLong, sa, sf, sa - sf)
        }
      }
    }
  }

  // --------------------------- M12: audio clipping / dynamic range

  case class ClipStats(doc_id: Long, n_samples: Long, max_abs: Long,
                       n_clip: Long, sum_sq: Long)

  /** M12: per-doc clipping + dynamic-range INTEGER moments over the
    * decoded PCM16 samples — the admission gate audio curation runs
    * before any model sees a waveform: clipped recordings (samples
    * pinned at/near full scale) carry saturation distortion no
    * augmentation undoes, and a crest factor (peak/RMS) near 1 means
    * square-wave-like or limiter-crushed content while very high
    * crest means transient spikes over near-silence. This op emits
    * only EXACT integers (n, max|s|, #{|s| ≥ clipAbs}, Σs²) — the
    * fractional forms (clip ppm, crest micro) are derived in the
    * query layer as single mirrored expression trees, keeping the
    * decoder loop pure integer and the doubles declarative/codegen.
    *
    * Long headroom: Σs² ≤ n·32768² — exact past 2⁴³ samples per doc
    * (≈ 31 years of 8 kHz audio); DuckDB errors identically beyond.
    *
    * Scale shape: the same batched `mapPartitions` decode as M5/M10
    * (the vectorized-codec shape) — one scalar pass per blob, one row
    * out per doc, no shuffle until the caller's orderBy.
    */
  def wavClippingStats(media: org.apache.spark.sql.Dataset[MediaBlob],
                       clipAbs: Long)
  : org.apache.spark.sql.Dataset[ClipStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "wav").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec =>
          val d = decodeWavSamples(rec.doc_id, rec.payload)
          var mabs = 0L; var nclip = 0L; var ssq = 0L
          var i = 0
          while (i < d.length) {
            val v = d(i); val a = math.abs(v)
            if (a > mabs) mabs = a
            if (a >= clipAbs) nclip += 1
            ssq += v * v
            i += 1
          }
          ClipStats(rec.doc_id, d.length.toLong, mabs, nclip, ssq)
        }
      }
    }
  }

  /** The [[decodeWav]] chunk walk, returning the raw PCM16 samples —
    * shared parsing, per-frame consumers do their own math.
    */
  private def decodeWavSamples(docId: Long,
                               bytes: Array[Byte]): Array[Long] = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(bytes, off, 4, "US-ASCII")
    require(bytes.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"doc $docId: not a WAV")
    var off = 12
    var dataOff = -1; var dataLen = 0; var bits = 0; var channels = 0
    while (off + 8 <= bytes.length) {
      val id = tag(off); val len = b.getInt(off + 4)
      id match {
        case "fmt " =>
          require(b.getShort(off + 8) == 1, s"doc $docId: non-PCM WAV")
          channels = b.getShort(off + 10).toInt
          bits = b.getShort(off + 22).toInt
        case "data" => dataOff = off + 8; dataLen = len
        case _ => ()
      }
      off += 8 + len + (len & 1)
    }
    require(dataOff >= 0 && bits == 16 && channels == 1,
      s"doc $docId: unsupported WAV shape")
    Array.tabulate(dataLen / 2)(i => b.getShort(dataOff + 2 * i).toLong)
  }

  // -------------------------------- M6: image box-filter resize (BMP)

  /** Per-doc stats of a 2× box-filter downsample. `out_w`/`out_h` are
    * ceil-halved source dims; pixel values are channel-wise
    * floor-averages over each (≤2)×(≤2) box.
    */
  case class ResizedStats(doc_id: Long, src_w: Long, src_h: Long,
                          out_w: Long, out_h: Long, n_px: Long,
                          sum_px: Long, min_px: Long, max_px: Long)

  /** M6: a REAL image resize over the decoded BMP pixels — 2× box
    * filter (average pooling), the standard thumbnail/pre-embed
    * downsample. The decoder honors storage orientation: bottom-up
    * files (positive header height) are flipped to IMAGE row order
    * before pooling, so boxes pair image-adjacent rows — for odd
    * heights storage-order pooling would pair different rows, which is
    * why orientation handling is load-bearing here (unlike the
    * order-invariant stats of [[decodeBmp]]). Edge boxes clamp: a
    * leftover row/column averages over the 1–2 pixels that exist.
    * All math is integer (sum / count via floor division), so the
    * resized image — and therefore its stats — hash exactly against
    * the generative closed form.
    */
  def bmpResizeStats(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[ResizedStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "bmp").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec => resizeBmp(rec.doc_id, rec.payload) }
      }
    }
  }

  private def resizeBmp(docId: Long, bytes: Array[Byte]): ResizedStats = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B' && b.get(1) == 'M',
      s"doc $docId: not a BMP")
    val dataOffset = b.getInt(10)
    val w = b.getInt(18)
    val hdrH = b.getInt(22)
    val h = math.abs(hdrH)
    require(b.getShort(28) == 24 && b.getInt(30) == 0,
      s"doc $docId: unsupported BMP variant")
    val rowBytes = 3 * w
    val stride = (rowBytes + 3) & ~3
    // image row r -> file row: bottom-up (hdrH > 0) stores the bottom
    // image row first
    def fileRow(r: Int) = if (hdrH > 0) h - 1 - r else r
    def px(r: Int, c: Int, ch: Int): Int =
      bytes(dataOffset + fileRow(r) * stride + c * 3 + ch) & 0xff
    val outW = (w + 1) / 2
    val outH = (h + 1) / 2
    var n = 0L; var sum = 0L
    var min = Long.MaxValue; var max = Long.MinValue
    var r2 = 0
    while (r2 < outH) {
      var c2 = 0
      while (c2 < outW) {
        var ch = 0
        while (ch < 3) {
          var s = 0; var cnt = 0
          var dr = 0
          while (dr < 2) {
            val r = 2 * r2 + dr
            if (r < h) {
              var dc = 0
              while (dc < 2) {
                val c = 2 * c2 + dc
                if (c < w) { s += px(r, c, ch); cnt += 1 }
                dc += 1
              }
            }
            dr += 1
          }
          val v = (s / cnt).toLong // ints >= 0: floor division
          n += 1; sum += v
          if (v < min) min = v; if (v > max) max = v
          ch += 1
        }
        c2 += 1
      }
      r2 += 1
    }
    ResizedStats(docId, w.toLong, h.toLong, outW.toLong, outH.toLong,
      n, sum, min, max)
  }

  // ----------------------------- M7: perceptual image near-dup (dHash)

  /** Per-image difference hash decoded from the real BMP bytes. */
  case class ImageHash(doc_id: Long, w: Long, h: Long, dhash: Long)

  /** M7: dHash — the classic perceptual fingerprint (horizontal
    * gradient sign bits over grayscale): bit i = r·(w−1)+c is set iff
    * gray(r, c+1) > gray(r, c) in IMAGE row order. Gradient signs
    * survive global brightness/contrast shifts, which is what makes
    * this a NEAR-dup signal where [[mediaDedupCensus]]'s payload sha
    * only catches byte-identical blobs. Grayscale is the integer mean
    * of the three channels — all math exact, so the hash (and the
    * census downstream) oracles against the generative closed form.
    * At these fixture dims (w ≤ 8, h ≤ 4) the hash is ≤ 28 bits; the
    * production variant resamples to 9×8 first ([[bmpResizeStats]]'s
    * box filter is the building block) for the canonical 72-bit hash.
    */
  def imageDHash(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "bmp").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec => dhashBmp(rec.doc_id, rec.payload) }
      }
    }
  }

  private def dhashBmp(docId: Long, bytes: Array[Byte]): ImageHash = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && b.get(0) == 'B' && b.get(1) == 'M',
      s"doc $docId: not a BMP")
    val dataOffset = b.getInt(10)
    val w = b.getInt(18)
    val hdrH = b.getInt(22)
    val h = math.abs(hdrH)
    require(b.getShort(28) == 24 && b.getInt(30) == 0,
      s"doc $docId: unsupported BMP variant")
    val stride = (3 * w + 3) & ~3
    def fileRow(r: Int) = if (hdrH > 0) h - 1 - r else r
    def gray(r: Int, c: Int): Int = {
      val base = dataOffset + fileRow(r) * stride + c * 3
      ((bytes(base) & 0xff) + (bytes(base + 1) & 0xff) +
        (bytes(base + 2) & 0xff)) / 3
    }
    var bits = 0L
    var i = 0
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w - 1) {
        if (gray(r, c + 1) > gray(r, c)) bits |= 1L << i
        i += 1
        c += 1
      }
      r += 1
    }
    ImageHash(docId, w.toLong, h.toLong, bits)
  }

  /** M7: perceptual near-dup census over the dHash relation. The pair
    * join runs at the DISTINCT-HASH level, never the image level: at
    * sf0.1 the corpus holds ~25k images but only ~424 distinct hashes,
    * and doc-level banding would generate ~1.4B candidate pairs where
    * hash-level banding generates thousands — the image multiplicities
    * ride along as counts and the census reports pair MASS
    * (n1·n2 cross-class, C(n,2) within-class) instead of materializing
    * the quadratic pair list. Bands: 4×7 bits, so by pigeonhole every
    * hash pair within Hamming ≤ 3 shares a band ([[TextOps.simhashPairs]]'
    * discipline); `bit_count(xor)` verifies exactly.
    *
    * Output: one row per duplicate class (h1 = h2, hamming 0) or
    * near-dup hash pair (hamming 1..maxHamming), with class sizes,
    * exemplar doc ids, and the implied pair count.
    */
  def phashCensus(docs: DataFrame, maxHamming: Int): DataFrame =
    phashCensusOf(imageDHash(mediaBinary(docs)).toDF(), maxHamming)

  /** [[phashCensus]] over an already-computed dHash relation — every
    * dHash source (raw blobs, decoded JPEG pixels) shares this one
    * statistics stage.
    */
  def phashCensusOf(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val cls = hashes
      .groupBy("dhash")
      .agg(count(lit(1)).as("n"), min("doc_id").as("exemplar"))
      .transform(Materialize.cached)
    val near = Banding.bandedCandidates(cls, "dhash",
        (0 until 4).map(k =>
          shiftright(col("dhash"), 7 * k).bitwiseAND(lit(127L))),
        payload = Seq("n", "exemplar"))
      .withColumn("hamming",
        bit_count(col("d1").bitwiseXOR(col("d2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1").as("h1"), col("d2").as("h2"), col("hamming"),
        col("n1"), col("n2"),
        (col("n1") * col("n2")).as("n_pairs"),
        col("exemplar1"), col("exemplar2"))
    val self = cls.filter(col("n") >= 2L)
      .select(col("dhash").as("h1"), col("dhash").as("h2"),
        lit(0L).as("hamming"), col("n").as("n1"), col("n").as("n2"),
        (col("n") * (col("n") - 1L) / lit(2)).cast("long").as("n_pairs"),
        col("exemplar").as("exemplar1"), col("exemplar").as("exemplar2"))
    self.unionByName(near)
  }

  /** Exact media dedup census — the storage-side dedup report every
    * multimodal pipeline runs first: blobs grouped by content hash
    * (sha-256 of the payload bytes), per-format counts of stored vs
    * distinct blobs and the bytes reclaimable by keeping one copy per
    * hash, plus an ALL rollup row where a blob stored under several
    * formats still counts ONCE distinct (cross-format duplicates are
    * invisible to any per-format number — the reason the rollup
    * re-groups by hash instead of summing the format rows).
    *
    * Scale shape: ONE corpus pass builds the (format, sha) blob
    * relation — the only shuffle that sees payload-derived rows, keyed
    * on the 64-char hash with map-side partials (identical blobs
    * collapse before the wire); both censuses and the ALL re-group
    * aggregate blob-level rows (bounded by distinct blobs, not bytes).
    */
  def mediaDedupCensus(docs: DataFrame): DataFrame = {
    val blobs = media(docs)
      .select(col("format"), sha2(col("payload"), 256).as("sha"),
        col("byte_len"))
      .groupBy("format", "sha")
      .agg(count(lit(1)).as("c"), max("byte_len").as("len"))
      .transform(Materialize.cached)
    def census(g: RelationalGroupedDataset) = g.agg(
      sum("c").as("n_blobs"),
      count(lit(1)).as("n_distinct_blobs"),
      (sum("c") - count(lit(1))).as("dup_blobs"),
      sum(col("c") * col("len")).as("total_bytes"),
      sum((col("c") - 1L) * col("len")).as("reclaim_bytes"))
    val perFormat = census(blobs.groupBy("format"))
    val all = census(
      blobs.groupBy("sha").agg(sum("c").as("c"), max("len").as("len"))
        .groupBy())
      .withColumn("format", lit("ALL"))
    perFormat.unionByName(
      all.select(perFormat.columns.toIndexedSeq.map(col): _*))
  }

  /** M8 fixture knobs: every doc whose id ≡ 3 (mod 7) carries the
    * WRONG declared format tag (a bmp payload labeled wav or vice
    * versa) — the deterministic stand-in for crawler metadata drift.
    */
  val MislabelMod = 7L
  val MislabelRem = 3L

  /** The M8 input relation: real container payloads ([[mediaBinary]])
    * plus a DECLARED format column that disagrees with the bytes on
    * the mislabeled subset. The payload format stays keyed to doc_id
    * parity; only the label lies.
    */
  def mediaBinaryDeclared(docs: DataFrame): DataFrame =
    mediaBinary(docs).toDF()
      .select(col("doc_id"),
        when(col("doc_id") % MislabelMod === MislabelRem,
          when(col("kind") === "bmp", "wav").otherwise("bmp"))
          .otherwise(col("kind")).as("declared"),
        col("payload"))

  /** Magic-byte sniff as a pure codegen expression over the binary
    * column — 'BM' at offset 0 is BMP; 'RIFF' at 0 plus 'WAVE' at 8
    * is WAV; anything else is unknown. No decode, no UDF: two binary
    * slices and equality against hex literals.
    */
  def magicSniff(payload: Column): Column =
    when(hex(substring(payload, 1, 2)) === "424D", "bmp")
      .when(hex(substring(payload, 1, 4)) === "52494646" &&
        hex(substring(payload, 9, 4)) === "57415645", "wav")
      .otherwise("unknown")

  /** M9 fixture knob: every doc whose id ≡ 5 (mod 11) ships a payload
    * with its last [[TruncBytes]] bytes missing — the deterministic
    * stand-in for a truncated download.
    */
  val TruncMod = 11L
  val TruncRem = 5L
  val TruncBytes = 10

  /** The M9 input relation: real containers, a deterministic subset
    * truncated mid-payload. Headers stay intact (the truncation eats
    * tail bytes), which is exactly why size-field integrity catches
    * what a magic-byte sniff (M8) cannot.
    */
  def mediaBinaryTruncated(docs: DataFrame)
  : org.apache.spark.sql.Dataset[MediaBlob] = {
    import docs.sparkSession.implicits._
    mediaBinary(docs).map { b =>
      if (b.doc_id % TruncMod == TruncRem)
        MediaBlob(b.doc_id, b.kind,
          b.payload.dropRight(TruncBytes))
      else b
    }
  }

  /** Little-endian uint32 read from a binary column at 1-based byte
    * offset `pos` — four one-byte slices re-ordered into big-endian
    * hex and parsed by `conv`: stays inside whole-stage codegen, no
    * UDF, no decode.
    */
  def leUint32(payload: Column, pos: Int): Column =
    conv(concat(
      hex(substring(payload, pos + 3, 1)),
      hex(substring(payload, pos + 2, 1)),
      hex(substring(payload, pos + 1, 1)),
      hex(substring(payload, pos, 1))), 16, 10).cast("long")

  /** M9: container-integrity census — truncated-download detection
    * the M8 sniff cannot do (truncation eats the tail, headers stay
    * pristine): both container formats DECLARE their size (BMP file
    * size at offset 2, RIFF chunk size at offset 4 + 8), so
    * declared-vs-actual byte length is a pure header read — short
    * payloads are truncated transfers, long ones carry trailing junk
    * (the appended-payload smuggling signature). Per format: counts
    * of ok/truncated/trailing and the total missing byte mass (the
    * re-fetch budget).
    *
    * Exactness: sizes are exact integers off the LE header reads; no
    * division at all. Scale shape: the header read touches 8 bytes
    * per payload inside codegen; the census is formats-sized with
    * map-side partials.
    */
  def integrityCensus(media: DataFrame): DataFrame = {
    val declared = when(col("kind") === "bmp", leUint32(col("payload"), 3))
      .otherwise(leUint32(col("payload"), 5) + 8L)
    media
      .select(col("kind"),
        length(col("payload")).cast("long").as("actual"),
        declared.as("declared"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n"),
        sum(when(col("actual") === col("declared"), 1L).otherwise(0L))
          .as("n_ok"),
        sum(when(col("actual") < col("declared"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(when(col("actual") > col("declared"), 1L).otherwise(0L))
          .as("n_trailing"),
        sum(when(col("actual") < col("declared"),
          col("declared") - col("actual")).otherwise(0L))
          .as("missing_bytes"))
  }

  /** M8: declared-vs-sniffed format confusion census — the X56
    * discipline applied to bytes: every real ingest audits whether
    * upstream content-type metadata matches what the payloads
    * actually are (format-keyed pipelines route on this; a wav
    * decoder fed mislabeled BMP bytes is a task failure, not a
    * statistic). Counts are exact; the per-declared-row fraction is
    * ONE micro division. Off-diagonal cells ARE the mislabel rate per
    * declared format.
    *
    * Scale shape: the sniff is a zero-shuffle projection reading two
    * header slices (Parquet page-level column pruning keeps every
    * other byte of the payload un-fetched only if the format stores
    * payloads out-of-row — with in-row payloads the scan pays the
    * payload pages, the CPU still only touches 12 bytes); the census
    * is ≤ formats² rows with map-side partials.
    */
  def magicCensus(media: DataFrame): DataFrame = {
    val cells = media
      .select(col("declared"), magicSniff(col("payload")).as("sniffed"))
      .groupBy("declared", "sniffed").agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("declared").agg(sum("n").as("t"))
    cells.join(tot, Seq("declared"))
      .select(col("declared"), col("sniffed"), col("n"),
        graft.functions.Hashing.micro(col("n") / col("t"))
          .as("frac_micro"))
  }

  // --------------------- M21: baseline JPEG decode (the codec gap)

  /** documents → one real baseline-JFIF payload per doc (the
    * [[JpegCodec.encode]] flat-MCU fixture — genuine entropy-coded
    * 4:2:0 files whose lossy roundtrip is exact BY CONSTRUCTION, which
    * is what lets a compressed format carry a closed-form oracle; see
    * the codec's scaladoc).
    */
  def jpegBinary(docs: DataFrame)
  : org.apache.spark.sql.Dataset[MediaBlob] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaBlob(id, "jpeg", JpegCodec.encode(id)))
  }

  /** The M4-dispatch adapter: a JPEG through the [[MediaDecoded]]
    * shape — units are the full-resolution interleaved RGB bytes
    * (3·w·h of them), the same "decoded unit" contract BMP uses.
    */
  def decodeJpegUnits(docId: Long, bytes: Array[Byte]): MediaDecoded = {
    val img = JpegCodec.decode(bytes)
    val n = img.width.toLong * img.height
    var sum = 0L; var min = Long.MaxValue; var max = Long.MinValue
    var i = 0
    while (i < n) {
      val (r, g, b) = img.rgb(i)
      sum += r.toLong + g + b
      val lo = math.min(r, math.min(g, b)).toLong
      val hi = math.max(r, math.max(g, b)).toLong
      if (lo < min) min = lo
      if (hi > max) max = hi
      i += 1
    }
    MediaDecoded(docId, "jpeg", Some(img.width.toLong),
      Some(img.height.toLong), None, 3L * n, sum,
      if (n == 0) 0L else min, if (n == 0) 0L else max)
  }

  /** M21 decode census row: exact integer statistics over the decoded
    * full-resolution planes — Y/Cb/Cr sums (the component path:
    * Huffman → dequant → IDCT → upsample) and R/G/B sums (the
    * fixed-point conversion on top). All derived from DECODED pixels,
    * never from the generative formula — the oracle recomputes the
    * same integers from the closed form without parsing a byte, so
    * agreement certifies the whole codec path (the q_media_features
    * differential discipline, now for a compressed format).
    */
  case class JpegStats(doc_id: Long, width: Long, height: Long,
                       n_mcus: Long, sum_y: Long, min_y: Long,
                       max_y: Long, sum_cb: Long, sum_cr: Long,
                       sum_r: Long, sum_g: Long, sum_b: Long)

  def jpegDecodeStats(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[JpegStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "jpeg").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec =>
          val img = JpegCodec.decode(rec.payload)
          val n = img.width * img.height
          var sy = 0L; var mny = Long.MaxValue; var mxy = Long.MinValue
          var scb = 0L; var scr = 0L
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < n) {
            val y = img.y(i).toLong
            sy += y; if (y < mny) mny = y; if (y > mxy) mxy = y
            scb += img.cb(i); scr += img.cr(i)
            val (r, g, b) = img.rgb(i)
            sr += r; sg += g; sb += b
            i += 1
          }
          JpegStats(rec.doc_id, img.width.toLong, img.height.toLong,
            (img.width / 16).toLong * (img.height / 16),
            sy, mny, mxy, scb, scr, sr, sg, sb)
        }
      }
    }
  }

  // ----------------------- M23: PNG decode (the lossless codec)

  /** documents → one real PNG payload per doc ([[PngCodec.encode]] —
    * filter types cycling per row, so every decode exercises all five
    * unfilter paths; lossless, so no fixture constraints are needed
    * for exactness).
    */
  def pngBinary(docs: DataFrame)
  : org.apache.spark.sql.Dataset[MediaBlob] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaBlob(id, "png", PngCodec.encode(id)))
  }

  /** The M4-dispatch adapter: a PNG through the [[MediaDecoded]] shape
    * — units are the decoded interleaved samples (RGB or gray), the
    * BMP contract.
    */
  def decodePngUnits(docId: Long, bytes: Array[Byte]): MediaDecoded = {
    val img = PngCodec.decode(bytes)
    val n = img.samples.length.toLong
    var sum = 0L; var min = Long.MaxValue; var max = Long.MinValue
    var i = 0
    while (i < img.samples.length) {
      val v = img.samples(i).toLong
      sum += v; if (v < min) min = v; if (v > max) max = v
      i += 1
    }
    MediaDecoded(docId, "png", Some(img.width.toLong),
      Some(img.height.toLong), None, n, sum,
      if (n == 0) 0L else min, if (n == 0) 0L else max)
  }

  /** M23 decode census row: exact integer statistics over the decoded
    * samples, split per channel — derived from DECODED pixels through
    * the chunk-walk/CRC/inflate/unfilter path, never the generative
    * formula (the differential discipline; the oracle recomputes from
    * the closed form).
    */
  case class PngStats(doc_id: Long, width: Long, height: Long,
                      n_samples: Long, sum_px: Long, min_px: Long,
                      max_px: Long, sum_r: Long, sum_g: Long,
                      sum_b: Long)

  def pngDecodeStats(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[PngStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "png").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec =>
          val img = PngCodec.decode(rec.payload)
          require(img.channels == 3,
            s"doc ${rec.doc_id}: fixture is RGB")
          var sum = 0L; var min = Long.MaxValue; var max = Long.MinValue
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < img.samples.length) {
            val v = img.samples(i).toLong
            sum += v; if (v < min) min = v; if (v > max) max = v
            (i % 3) match {
              case 0 => sr += v
              case 1 => sg += v
              case 2 => sb += v
            }
            i += 1
          }
          PngStats(rec.doc_id, img.width.toLong, img.height.toLong,
            img.samples.length.toLong, sum, min, max, sr, sg, sb)
        }
      }
    }
  }

  /** M21 perceptual hash over the DECODED JPEG: dHash on the MCU-gray
    * grid (gray = (r+g+b) div 3 — flat MCUs make the grid cell the
    * honest sampling unit; the production shape box-resamples first,
    * [[imageDHash]]'s documented 9×8 discipline). Reuses [[ImageHash]]
    * so the census below IS [[phashCensusOf]] — the shared statistics
    * stage, not a parallel derivation.
    */
  def jpegMcuDHash(media: org.apache.spark.sql.Dataset[MediaBlob])
  : org.apache.spark.sql.Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "jpeg").mapPartitions { it =>
      it.grouped(FeatureBatchSize).flatMap { batch =>
        batch.iterator.map { rec =>
          val img = JpegCodec.decode(rec.payload)
          val gw = img.width / 16
          val gh = img.height / 16
          def gray(gr: Int, gc: Int): Int = {
            val (r, g, b) = img.rgb((gr * 16) * img.width + gc * 16)
            (r + g + b) / 3
          }
          var bits = 0L
          var i = 0
          var r = 0
          while (r < gh) {
            var c = 0
            while (c < gw - 1) {
              if (gray(r, c + 1) > gray(r, c)) bits |= 1L << i
              i += 1
              c += 1
            }
            r += 1
          }
          ImageHash(rec.doc_id, gw.toLong, gh.toLong, bits)
        }
      }
    }
  }
}
