package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Funcs._
import graft.sources.Staging.Snapshottable

/** Multimodal-column plumbing: opaque `binary` payloads + typed
  * metadata, frame sampling, and real codecs with no non-JDK
  * dependency.
  *
  * Images decode through `javax.imageio` ([[decodeImageFeatures]],
  * [[toGrayPng]]) and an integer 8×8 DCT ([[imageDctFeatures]]).
  * Audio is WAV: PCM16, G.711 μ-law ([[ulawToLinear]]) and IMA ADPCM
  * ([[imaAdpcmDecode]]). Video is AVI with 8-bit gray DIB frames.
  * WAV and AVI share one RIFF chunk reader ([[riffChunks]]). Every
  * audio lane reads its samples through one int16 read ([[int16]]),
  * one sample decode per format ([[wavSamples]]) and one frame fold
  * ([[energyFrames]] over [[frameBounds]]).
  *
  * Scale notes: payloads stay opaque binary end-to-end (no
  * row-to-string conversions); frame sampling explodes bounded
  * sequences (frames per doc = ceil(bytes/frameSize)), so the operator
  * is a narrow map + generate with no shuffle; decode and feature
  * extraction are embarrassingly parallel per partition
  * ([[codecStage]]: one narrow mapPartitions per codec operator).
  */
object Multimodal {

  val frameSize = 256

  /** Wrap a text column as an opaque binary payload with typed
    * metadata — the ingestion shape for image/audio/video blobs. */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      struct(
        length(col(payloadCol).cast("binary")).as("n_bytes"),
        lit("text/fake").as("mime"),
        ceil(length(col(payloadCol).cast("binary")) / lit(frameSize.toDouble))
          .cast("int").as("n_frames")).as("meta"))

  /** Frame sampling: one row per fixed-size frame with its content
    * hash — e.g. for per-frame features or frame-level dedup. */
  def sampleFrames(media: DataFrame): DataFrame =
    media
      .select(col("media_id"), col("meta.n_frames").as("n_frames"), col("payload"))
      .select(col("media_id"), col("n_frames"),
        // guard n_frames = 0: Spark's sequence(0, -1) auto-steps to
        // [0, -1] instead of returning an empty array
        posexplode(expr(
          s"""case when n_frames <= 0 then array()
             |else transform(sequence(0, n_frames - 1), f -> substring(payload, f * $frameSize + 1, $frameSize))
             |end""".stripMargin))
          .as(Seq("frame_idx", "frame_bytes")))
      .select(col("media_id"), col("frame_idx"),
        length(col("frame_bytes")).as("frame_len"),
        md5(col("frame_bytes")).as("frame_hash"))

  /** The one payload step of the codec operators: `media`'s
    * `media_id` (cast long), `payload` and each `extra` column (cast
    * int) go through `partition`, which emits rows of `media_id` +
    * `fields`. Narrow mapPartitions: codec state inits once per
    * partition, never per row. */
  private def codecStage(media: DataFrame, fields: Seq[(String, DataType)], extra: String*)(
      partition: Iterator[Row] => Iterator[Row]): DataFrame =
    media.select(col("media_id").cast("long") +: col("payload") +: extra.map(col(_).cast("int")): _*)
      .mapPartitions(partition)(Encoders.row(StructType(
        (("media_id" -> LongType) +: fields).map { case (n, t) => StructField(n, t) })))

  private val payloadField = Seq("payload" -> BinaryType)
  /** The frame-feature shape the audio lanes, [[aviFrameDeltas]] and
    * [[energySegments]] share. */
  private val energyFields = Seq("frame_idx" -> IntegerType, "n_samples" -> IntegerType,
    "energy" -> LongType, "peak" -> IntegerType)

  /** Little-endian signed int16 at `off`: the one sample read. */
  private def int16(b: Array[Byte], off: Int): Int = ((b(off + 1): Int) << 8) | (b(off) & 0xff)

  /** The PCM16 samples of `len` bytes at `off` (a trailing odd byte is ignored). */
  private def pcm16(b: Array[Byte], off: Int, len: Int): Array[Int] =
    Array.tabulate(len / 2)(i => int16(b, off + 2 * i))

  /** (frame_idx, start, end) of each `frameSamples` window over
    * `nSamp` samples: the trailing partial frame is kept unless
    * `fullOnly`. */
  private def frameBounds(nSamp: Int, frameSamples: Int,
                          fullOnly: Boolean = false): Iterator[(Int, Int, Int)] = {
    val nFrames = if (fullOnly) nSamp / frameSamples else (nSamp + frameSamples - 1) / frameSamples
    Iterator.range(0, nFrames).map { f =>
      (f, f * frameSamples, math.min(f * frameSamples + frameSamples, nSamp))
    }
  }

  /** The one frame fold: (frame_idx, n_samples, exact Σx², peak |x|)
    * per `frameSamples` window of `xs`, trailing partial frame kept. */
  private def energyFrames(xs: Array[Int], frameSamples: Int): Iterator[(Int, Int, Long, Int)] =
    frameBounds(xs.length, frameSamples).map { case (f, start, end) =>
      var i = start
      var energy = 0L
      var peak = 0
      while (i < end) {
        val v = xs(i)
        energy += v.toLong * v
        val a = if (v < 0) -v else v
        if (a > peak) peak = a
        i += 1
      }
      (f, end - start, energy, peak)
    }

  /** ===== REAL audio framing =====
    * Interprets the payload as 16-bit little-endian signed mono PCM —
    * raw PCM IS the decoded form, so unlike compressed audio this
    * needs no codec and every step is real computation: per
    * non-overlapping frame of `frameSamples` samples, the exact
    * integer energy Σx², the peak |x|, and the sample count (trailing
    * partial frame kept; a trailing odd byte is ignored). This is the
    * standard first stage of audio curation — silence trimming,
    * clipping detection, energy-based VAD thresholds — and it is
    * oracle-checkable because DuckDB can parse the same bytes from
    * their hex form. Narrow mapPartitions (one decode per payload, no
    * shuffle); frames-per-row is bounded by payload size. */
  def pcmFrameFeatures(media: DataFrame, frameSamples: Int = 256): DataFrame = {
    require(frameSamples > 0, "pcmFrameFeatures: frameSamples must be positive")
    codecStage(media, energyFields)(_.flatMap { r =>
      val b = r.getAs[Array[Byte]](1)
      energyFrames(pcm16(b, 0, b.length), frameSamples).map { case (f, n, energy, peak) =>
        Row(r.getLong(0), f, n, energy, peak)
      }
    })
  }

  /** WAVE_FORMAT codes supported by the audio lane. */
  private[graft] val WavPcm16 = 1       // linear PCM, 16-bit LE
  private[graft] val WavUlaw = 7        // ITU G.711 μ-law, 8-bit companded
  private[graft] val WavImaAdpcm = 0x11 // IMA/DVI ADPCM, 4-bit predictive

  /** Canonical 44-byte WAV header (RIFF little-endian): the container
    * format for [[toWav]]/[[wavFrameFeatures]]. `audioFormat` 1 =
    * PCM16, 7 = G.711 μ-law (8-bit), 0x11 = IMA ADPCM (4-bit; the
    * whole data chunk is ONE block, so block_align = dataLen and the
    * byte rate is the 4-bit mono approximation). */
  private[graft] def wavHeader(dataLen: Int, sampleRate: Int,
                               channels: Int, audioFormat: Int = WavPcm16): Array[Byte] = {
    val ima = audioFormat == WavImaAdpcm
    val bytesPerSample = if (audioFormat == WavPcm16) 2 else 1
    val byteRate =
      if (ima) (sampleRate + 1) / 2 else sampleRate * channels * bytesPerSample
    val blockAlign = if (ima) dataLen else channels * bytesPerSample
    val bits = if (ima) 4 else 8 * bytesPerSample
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(audioFormat.toShort)
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(byteRate)
      .putShort(blockAlign.toShort)
      .putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    bb.array()
  }

  /** ITU G.711 μ-law expansion: one companded byte → linear 16-bit
    * sample, exact integer arithmetic (sign/exponent/mantissa decode,
    * bias 0x84) — a REAL lossy-audio codec with no library
    * dependency, range ±32124. */
  private[graft] def ulawToLinear(code: Byte): Int = {
    val u = ~code & 0xff
    val mag = ((((u & 0x0f) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    if ((u & 0x80) != 0) -mag else mag
  }

  /** IMA/DVI ADPCM quantizer step table (89 steps) and index-advance
    * table — the standard constants from the IMA Digital Audio
    * Compatibility Project algorithm (as used by WAV format 0x11). */
  private[graft] val imaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private[graft] val imaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** IMA ADPCM block decode — a REAL 4:1 predictive codec in pure
    * integer arithmetic, STATEFUL across samples (unlike μ-law's
    * per-byte expansion): each 4-bit nibble advances a (predictor,
    * step-index) state machine through [[imaStepTable]] /
    * [[imaIndexTable]] with the standard bit-weighted delta
    * `step/8 + b0·step/4 + b1·step/2 + b2·step`, sign bit b3, and
    * clamping to int16 / [0, 88]. Block layout per the WAV format-0x11
    * spec: 4-byte header (initial predictor int16 LE — which IS output
    * sample 0 — then step index, clamped defensively, then a reserved
    * byte), followed by data bytes holding two nibbles each, LOW
    * nibble first. Returns 1 + 2·(len−4) linear samples; blocks
    * shorter than a header decode to nothing. */
  private[graft] def imaAdpcmDecode(b: Array[Byte], off: Int, len: Int): Array[Int] = {
    if (len < 4) return Array.empty
    var pred = int16(b, off)
    var idx = math.min(b(off + 2) & 0xff, 88)
    val nNib = (len - 4) * 2
    val out = new Array[Int](1 + nNib)
    out(0) = pred
    var i = 0
    while (i < nNib) {
      val byt = b(off + 4 + (i >> 1)) & 0xff
      val nib = if ((i & 1) == 0) byt & 0x0f else (byt >> 4) & 0x0f
      val step = imaStepTable(idx)
      var diff = step >> 3
      if ((nib & 1) != 0) diff += step >> 2
      if ((nib & 2) != 0) diff += step >> 1
      if ((nib & 4) != 0) diff += step
      pred = if ((nib & 8) != 0) pred - diff else pred + diff
      if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
      idx += imaIndexTable(nib)
      if (idx < 0) idx = 0 else if (idx > 88) idx = 88
      out(i + 1) = pred
      i += 1
    }
    out
  }

  // ───────────────────────── RIFF chunk reader ───────────────────────

  private def ascii(b: Array[Byte], off: Int) = new String(b, off, 4, "US-ASCII")
  private def u16(b: Array[Byte], off: Int): Int = int16(b, off) & 0xffff
  private def u32(b: Array[Byte], off: Int): Long = u16(b, off) | (u16(b, off + 2).toLong << 16)

  /** Walks the RIFF chunk sequence `[from, to)` of `b` while `more`
    * holds: `visit(id, bodyOffset, size)` per chunk, stepping over
    * odd-size padding (RIFF pads odd chunk bodies to even). False when
    * a chunk overruns `to` or `visit` returns false (a nested walk
    * failed); the WAV and AVI parsers both read through it. */
  private def riffChunks(b: Array[Byte], from: Int, to: Int, more: => Boolean = true)(
      visit: (String, Int, Int) => Boolean): Boolean = {
    var off = from
    while (off + 8 <= to && more) {
      val size = u32(b, off + 4)
      if (off + 8 + size > to || !visit(ascii(b, off), off + 8, size.toInt)) return false
      off += 8 + size.toInt + (size.toInt & 1)
    }
    true
  }

  /** Parsed RIFF/WAV container: format fields + the data chunk's
    * position inside the payload (no copy at parse time). */
  private[graft] final case class WavInfo(
    channels: Int, sampleRate: Int, bitsPerSample: Int,
    dataOffset: Int, dataLen: Int, audioFormat: Int = 1)

  /** RIFF/WAV container parse, pure JDK: walks the chunk list
    * ("fmt " → format fields, "data" → sample position) until both
    * are found, tolerating extra chunks (LIST/fact/cue) and odd-size
    * chunk padding per the RIFF spec. Returns None for anything that
    * is not a well-formed PCM16, G.711-μ-law or IMA-ADPCM WAV —
    * truncated headers, non-RIFF payloads, float encodings — so
    * corrupt payloads degrade instead of throwing. */
  private[graft] def parseWav(b: Array[Byte]): Option[WavInfo] = {
    if (b.length < 44 || ascii(b, 0) != "RIFF" || ascii(b, 8) != "WAVE") return None
    var fmt: Option[(Int, Int, Int, Int)] = None // audioFormat, channels, rate, bits
    var data: Option[(Int, Int)] = None          // offset, len
    val walked = riffChunks(b, 12, b.length, fmt.isEmpty || data.isEmpty) { (id, body, sz) =>
      if (id == "fmt " && sz >= 16)
        fmt = Some((u16(b, body), u16(b, body + 2), u32(b, body + 4).toInt, u16(b, body + 14)))
      else if (id == "data")
        data = Some((body, sz))
      true
    }
    for {
      (audioFormat, channels, rate, bits) <- fmt
      (dOff, dLen) <- data
      if walked && channels >= 1 && rate > 0 &&
        ((audioFormat == WavPcm16 && bits == 16) ||
          (audioFormat == WavUlaw && bits == 8) ||
          (audioFormat == WavImaAdpcm && bits == 4))
    } yield WavInfo(channels, rate, bits, dOff, dLen, audioFormat)
  }

  /** The one sample decode per WAV format: the data chunk of a parsed
    * WAV as linear samples — PCM16 read directly, G.711 μ-law through
    * [[ulawToLinear]], IMA ADPCM through the stateful block decode
    * [[imaAdpcmDecode]] (the whole chunk is one block). */
  private def wavSamples(b: Array[Byte], w: WavInfo): Array[Int] =
    if (w.audioFormat == WavImaAdpcm) imaAdpcmDecode(b, w.dataOffset, w.dataLen)
    else if (w.audioFormat == WavUlaw) Array.tabulate(w.dataLen)(i => ulawToLinear(b(w.dataOffset + i)))
    else pcm16(b, w.dataOffset, w.dataLen)

  /** ===== REAL audio container encode =====
    * Raw sample payload → WAV bytes (44-byte RIFF header + data),
    * per-row sample rate from `rateCol`. `audioFormat` 1 wraps PCM16
    * bytes; 7 wraps a G.711 μ-law byte stream; 0x11 one IMA ADPCM
    * block. Narrow mapPartitions; the inverse of
    * [[wavFrameFeatures]]'s parse. */
  def toWav(media: DataFrame, rateCol: String, channels: Int = 1,
            audioFormat: Int = WavPcm16): DataFrame =
    codecStage(media, payloadField, rateCol)(_.map { r =>
      val pcm = r.getAs[Array[Byte]](1)
      Row(r.getLong(0), wavHeader(pcm.length, r.getInt(2), channels, audioFormat) ++ pcm)
    })

  /** ===== REAL audio container decode =====
    * Parses each payload as a RIFF/WAV container ([[parseWav]]),
    * decodes the data chunk once into linear samples
    * ([[wavSamples]]: PCM16, G.711 μ-law or IMA ADPCM — genuine
    * compressed-audio decode paths with zero non-JDK dependencies) and
    * frames them with [[energyFrames]]: exact integer energy Σx², peak
    * |x| and sample count per frame, plus the container's
    * sample_rate/n_channels. Unparseable payloads emit ZERO frames
    * instead of failing the stage (the poison-pill policy of
    * [[decodeImageFeatures]]); count them via an anti-join against
    * the input when auditing. Narrow mapPartitions, frames bounded by
    * payload size. */
  def wavFrameFeatures(media: DataFrame, frameSamples: Int = 256): DataFrame = {
    require(frameSamples > 0, "wavFrameFeatures: frameSamples must be positive")
    codecStage(media, Seq("sample_rate" -> IntegerType, "n_channels" -> IntegerType) ++
        energyFields)(_.flatMap { r =>
      val b = r.getAs[Array[Byte]](1)
      parseWav(b).iterator.flatMap { w =>
        energyFrames(wavSamples(b, w), frameSamples).map { case (f, n, energy, peak) =>
          Row(r.getLong(0), w.sampleRate, w.channels, f, n, energy, peak)
        }
      }
    })
  }

  /** ===== Energy-based VAD / silence segmentation =====
    * Groups contiguous frames whose energy clears `minFrameEnergy`
    * into voiced segments — the standard curation stage after frame
    * energies (silence trimming, voice-activity spans, clip
    * extraction for ASR corpora). Input is any frame-feature frame
    * with (media_id, frame_idx, n_samples, energy) — i.e.
    * [[pcmFrameFeatures]] or [[wavFrameFeatures]] output — so the
    * container lane composes straight into it.
    *
    * Pure relational islands: voiced frames get a run key that is
    * constant within a contiguous (gap-tolerant) run, then one
    * grouped agg per (media, run). Two window passes + one
    * partial-aggregable shuffle, all on the bounded per-media frame
    * dimension — no UDFs, no state, mirrors 1:1 in SQL.
    *
    * `mergeGap` is the VAD "hangover": voiced runs separated by at
    * most that many silent frames fuse into one segment (real VAD
    * smooths over sub-perceptual dropouts instead of splitting an
    * utterance at every quiet frame). The gap frames themselves are
    * NOT part of the segment's n_frames/energy — only their span is
    * bridged. 0 (default) = strict contiguity, the closed form the
    * q_audio_vad oracle states. */
  def energySegments(frames: DataFrame, minFrameEnergy: Long,
                     mergeGap: Int = 0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    val runKey =
      if (mergeGap == 0) col("frame_idx") - row_number().over(w)
      else
        // cumulative count of gap-exceeding breaks = run id
        sum(when(col("frame_idx") - lag(col("frame_idx"), 1, -1000000).over(w)
              > mergeGap + 1, 1).otherwise(0))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    frames
      .filter(col("energy") >= minFrameEnergy)
      .withColumn("run", runKey)
      .groupBy(col("media_id"), col("run"))
      .agg(
        min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).cast("int").as("n_frames"),
        sum(col("n_samples")).cast("long").as("n_samples"),
        sum(col("energy")).as("energy"),
        max(col("peak")).as("peak"))
      .withColumn("seg_idx",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("start_frame")) - 1).cast("int"))
      .select("media_id", "seg_idx", "start_frame", "end_frame",
        "n_frames", "n_samples", "energy", "peak")
  }

  // ───────────────────────── AVI video container ─────────────────────

  /** Parsed AVI container: header fields + each video frame's position
    * inside the payload (no copy at parse time — the movi subchunks
    * are sliced lazily by the feature op). */
  private[graft] final case class AviInfo(
    width: Int, height: Int, fps: Int, nFrames: Int,
    frames: Array[(Int, Int)]) // (offset, len) per '00db'/'00dc' chunk

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** ===== REAL video container encode =====
    * Raw 8-bit grayscale rasters → a well-formed AVI (RIFF with NESTED
    * lists): `LIST hdrl` holding the `avih` main header and a
    * `LIST strl` with the `strh` video-stream header (fccType 'vids',
    * handler 'DIB ', dwRate/dwScale = integer fps) and the `strf`
    * BITMAPINFOHEADER, then `LIST movi` with one '00db' (uncompressed
    * device-independent bitmap) chunk per frame. Uncompressed frames
    * are the DELIBERATE choice — like the gray-PNG image lane, a
    * codec-free payload makes decode oracle-stateable while the
    * CONTAINER work (nested chunk walk, header round trip, frame
    * slicing) is fully real. The strf is header-only (no palette
    * block): grayscale-implied 8-bit, accepted by [[parseAvi]], which
    * is the documented wire contract of this lane. */
  private[graft] def encodeAvi(frames: Array[Array[Byte]], width: Int,
                               height: Int, fps: Int): Array[Byte] = {
    require(fps > 0, "encodeAvi: fps must be positive")
    require(frames.forall(_.length == width * height),
      s"encodeAvi: every frame must be exactly ${width * height} bytes")
    val frameBytes = width * height
    val n = frames.length
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length + (body.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(fourcc(id)).putInt(body.length).put(body)
      bb.array() // trailing pad byte (if odd) stays 0 per the RIFF spec
    }
    def list(listType: String, bodies: Array[Byte]*): Array[Byte] = {
      val content = fourcc(listType) ++ bodies.flatten
      chunk("LIST", content)
    }
    val avih = {
      val bb = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(1000000 / fps)       // dwMicroSecPerFrame
        .putInt(fps * frameBytes)    // dwMaxBytesPerSec
        .putInt(0)                   // dwPaddingGranularity
        .putInt(0)                   // dwFlags
        .putInt(n)                   // dwTotalFrames
        .putInt(0)                   // dwInitialFrames
        .putInt(1)                   // dwStreams
        .putInt(frameBytes)          // dwSuggestedBufferSize
        .putInt(width).putInt(height)
      bb.array()                     // 4 reserved dwords stay 0
    }
    val strh = {
      val bb = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(fourcc("vids")).put(fourcc("DIB "))
        .putInt(0)                   // dwFlags
        .putShort(0).putShort(0)     // wPriority, wLanguage
        .putInt(0)                   // dwInitialFrames
        .putInt(1)                   // dwScale
        .putInt(fps)                 // dwRate (fps = rate/scale)
        .putInt(0)                   // dwStart
        .putInt(n)                   // dwLength (frames)
        .putInt(frameBytes)          // dwSuggestedBufferSize
        .putInt(-1)                  // dwQuality (default)
        .putInt(0)                   // dwSampleSize
        .putShort(0).putShort(0)     // rcFrame left, top
        .putShort(width.toShort).putShort(height.toShort)
      bb.array()
    }
    val strf = {
      val bb = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(40)                  // biSize
        .putInt(width).putInt(height)
        .putShort(1)                 // biPlanes
        .putShort(8)                 // biBitCount: 8-bit gray
        .putInt(0)                   // biCompression = BI_RGB (none)
        .putInt(frameBytes)          // biSizeImage
      bb.array()                     // pels/clr fields stay 0
    }
    val hdrl = list("hdrl", chunk("avih", avih),
      list("strl", chunk("strh", strh), chunk("strf", strf)))
    val movi = list("movi", frames.map(f => chunk("00db", f)): _*)
    val riffContent = fourcc("AVI ") ++ hdrl ++ movi
    val bb = java.nio.ByteBuffer.allocate(8 + riffContent.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(fourcc("RIFF")).putInt(riffContent.length).put(riffContent)
    bb.array()
  }

  /** AVI container parse, pure JDK: a NESTED RIFF walk (unlike WAV's
    * flat chunk list) — descends `LIST hdrl` → `avih` and
    * `LIST strl` → `strh`/`strf`, then collects the frame subchunks of
    * `LIST movi` ('00db' uncompressed / '00dc' compressed ids both
    * accepted; extra chunks like 'idx1'/'JUNK' tolerated, odd sizes
    * padded per RIFF). Returns None — degrade, don't throw — for
    * truncated headers, non-AVI payloads, non-'vids' streams, or a
    * biBitCount other than 8 (this lane's wire contract is 8-bit
    * gray DIB frames; anything else would need a real pixel codec). */
  private[graft] def parseAvi(b: Array[Byte]): Option[AviInfo] = {
    if (b.length < 12 || ascii(b, 0) != "RIFF" || ascii(b, 8) != "AVI ") return None
    var avih: Option[(Int, Int, Int)] = None    // width, height, nFrames
    var strh: Option[(Int, Int)] = None         // scale, rate
    var bitCountOk = true
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    // walk one chunk sequence [from, to); descend into known LISTs
    def walk(from: Int, to: Int, inMovi: Boolean): Boolean = riffChunks(b, from, to) { (id, body, sz) =>
      if (id == "LIST" && sz >= 4) {
        val listType = ascii(b, body)
        if (listType == "hdrl" || listType == "strl") walk(body + 4, body + sz, inMovi = false)
        else if (listType == "movi") walk(body + 4, body + sz, inMovi = true)
        else true // other list types (odml, INFO) skipped whole
      } else {
        if (id == "avih" && sz >= 56)
          avih = Some((u32(b, body + 32).toInt, u32(b, body + 36).toInt, u32(b, body + 16).toInt))
        else if (id == "strh" && sz >= 56) {
          if (ascii(b, body) == "vids")
            strh = Some((u32(b, body + 20).toInt, u32(b, body + 24).toInt))
        } else if (id == "strf" && sz >= 40) {
          if (u16(b, body + 14) != 8) bitCountOk = false
        } else if (inMovi && (id == "00db" || id == "00dc"))
          frames += ((body, sz))
        true
      }
    }
    if (!walk(12, b.length, inMovi = false)) return None
    for {
      (w, h, nf) <- avih
      (scale, rate) <- strh
      if bitCountOk && w > 0 && h > 0 && scale > 0 && rate > 0 &&
        frames.length == nf && rate % scale == 0
    } yield AviInfo(w, h, rate / scale, nf, frames.toArray)
  }

  /** ===== REAL video container decode =====
    * Parses each payload as an AVI ([[parseAvi]]) and emits per-frame
    * raster statistics: exact unsigned-byte Σp, Σp², min/max per
    * frame, plus the container's width/height/fps — the standard first
    * stage of video curation (black-frame and flat-frame detection,
    * shot-boundary deltas, sampling decisions) over the decoded
    * frames. Unparseable payloads emit ZERO frames (poison-pill
    * policy). Narrow mapPartitions; frames bounded by payload size. */
  def aviFrameFeatures(media: DataFrame): DataFrame =
    codecStage(media, Seq("width" -> IntegerType, "height" -> IntegerType,
        "fps" -> IntegerType, "frame_idx" -> IntegerType, "n_bytes" -> IntegerType,
        "pix_sum" -> LongType, "pix_sumsq" -> LongType, "pix_min" -> IntegerType,
        "pix_max" -> IntegerType))(_.flatMap { r =>
      val b = r.getAs[Array[Byte]](1)
      parseAvi(b).iterator.flatMap { a =>
        a.frames.iterator.zipWithIndex.map { case ((off, len), f) =>
          var i = 0
          var s = 0L
          var ss = 0L
          var mn = 255
          var mx = 0
          while (i < len) {
            val v = b(off + i) & 0xff
            s += v
            ss += v.toLong * v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          if (len == 0) { mn = 0 }
          Row(r.getLong(0), a.width, a.height, a.fps, f, len, s, ss, mn, mx)
        }
      }
    })

  /** ===== Frame-delta (motion) features =====
    * Per consecutive-frame pixel delta over a parsed AVI: exact
    * Σ|p_f − p_{f−1}| and max per-pixel delta for every frame (frame 0
    * measured against black — the standard cold-open convention), in
    * the SAME column shape as the audio frame features (media_id,
    * frame_idx, n_samples, energy, peak) — so
    * [[energySegments]] composes directly on it: contiguous
    * high-motion runs become motion segments exactly the way voiced
    * runs become VAD segments. One sequential pass per payload
    * (deltas need the previous frame), narrow mapPartitions. */
  def aviFrameDeltas(media: DataFrame): DataFrame =
    codecStage(media, energyFields)(_.flatMap { r =>
      val b = r.getAs[Array[Byte]](1)
      parseAvi(b).iterator.flatMap { a =>
        a.frames.iterator.zipWithIndex.map { case ((off, len), f) =>
          val prev = if (f == 0) None else Some(a.frames(f - 1))
          var i = 0
          var s = 0L
          var mx = 0
          while (i < len) {
            val cur = b(off + i) & 0xff
            val ref = prev match {
              case Some((po, pl)) if i < pl => b(po + i) & 0xff
              case _ => 0
            }
            val d = if (cur >= ref) cur - ref else ref - cur
            s += d
            if (d > mx) mx = d
            i += 1
          }
          Row(r.getLong(0), f, len, s, mx)
        }
      }
    })

  /** [[encodeAvi]] as a DataFrame op: each payload's bytes become
    * ceil(len / (w·h)) frames (payload must tile exactly — a real
    * ingest would resize; require keeps the contract loud), wrapped in
    * one AVI per row with the per-row fps. */
  def toAvi(media: DataFrame, fpsCol: String, width: Int, height: Int): DataFrame = {
    val fb = width * height
    codecStage(media, payloadField, fpsCol)(_.map { r =>
      val raw = r.getAs[Array[Byte]](1)
      require(raw.length % fb == 0,
        s"toAvi: payload (${raw.length} B) must tile ${width}x$height frames")
      Row(r.getLong(0), encodeAvi(raw.grouped(fb).toArray, width, height, r.getInt(2)))
    })
  }

  /** JVM-side single-image helpers shared by the encode/decode
    * operators and their tests. 8-bit grayscale PNG is the chosen
    * wire format: lossless, JDK codec both directions, so
    * encode∘decode is the identity on raster bytes — which is what
    * makes the decode path ORACLE-CHECKABLE (the expected raster hex
    * is a pure function of the input bytes). */
  private[graft] def encodeGrayPngBytes(pixels: Array[Byte], width: Int): Array[Byte] = {
    require(width > 0 && pixels.length % width == 0,
      s"pixels (${pixels.length}) must tile a width-$width raster")
    val img = new java.awt.image.BufferedImage(
      width, pixels.length / width, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, width, pixels.length / width, pixels)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** ===== REAL encode =====
    * Payload bytes → 8-bit grayscale PNG of the given width (payload
    * length must tile the raster). Narrow mapPartitions; the codec
    * writes to in-memory streams (disk cache off). */
  def toGrayPng(media: DataFrame, width: Int): DataFrame =
    codecStage(media, payloadField) { rows =>
      javax.imageio.ImageIO.setUseCache(false) // once per partition
      rows.map(r => Row(r.getLong(0), encodeGrayPngBytes(r.getAs[Array[Byte]](1), width)))
    }

  /** ===== REAL decode =====
    * `javax.imageio` per partition: decodes PNG/JPEG/BMP payloads and
    * emits (media_id, width, height, pixel_hex, decode_ok), where
    * pixel_hex is the uppercase hex of the raster samples read
    * row-major, band-major — deterministic, no float color math.
    * Undecodable payloads (no codec, truncated bytes) degrade to
    * decode_ok = false with NULL features instead of failing the
    * stage — at 100 TB some payloads WILL be corrupt, and a poison-pill
    * row must not kill the job. */
  def decodeImageFeatures(media: DataFrame): DataFrame =
    codecStage(media, Seq("width" -> IntegerType, "height" -> IntegerType,
        "pixel_hex" -> StringType, "decode_ok" -> BooleanType)) { rows =>
      javax.imageio.ImageIO.setUseCache(false) // once per partition
      rows.map { r =>
        val id = r.getLong(0)
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          if (img == null) Row(id, null, null, null, false)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val raster = img.getRaster
            val bands = raster.getNumBands
            val sb = new java.lang.StringBuilder(w * h * bands * 2)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                var b = 0
                while (b < bands) {
                  val v = raster.getSample(x, y, b) & 0xff
                  sb.append("0123456789ABCDEF".charAt(v >>> 4))
                  sb.append("0123456789ABCDEF".charAt(v & 0xf))
                  b += 1
                }
                x += 1
              }
              y += 1
            }
            Row(id, w, h, sb.toString, true)
          }
          // NonFatal, not just IOException: codec internals throw
          // unchecked exceptions on some malformed inputs, and a
          // poison-pill row must not kill the job
        } catch { case scala.util.control.NonFatal(_) => Row(id, null, null, null, false) }
      }
    }

  // ───────────────────────────────────────────────────────────────────
  // Transform-coded lossy image lane: integer 8×8 DCT (JPEG-style)
  // ───────────────────────────────────────────────────────────────────

  /** Fixed-point scale of the DCT basis (2^11): large enough that the
    * basis rounding contributes ≲1 gray level of reconstruction error,
    * small enough that the full forward+inverse product chain stays
    * inside Long (worst-case |Σ T·Gq·T| < 2^37). */
  private[graft] val DctScaleBits = 11

  /** The 8×8 DCT-II basis as scaled integers: T(u,x) =
    * round(s_u · cos((2x+1)uπ/16) · 2^11), s_0 = √(1/8), s_u = 1/2 —
    * the orthonormal JPEG basis (ITU T.81 §A.3.3) frozen to integers
    * so forward, quantize, dequantize and inverse are EXACT integer
    * arithmetic, replayable bit-for-bit by the DuckDB oracle (which
    * renders its literals from THIS array — one source of truth).
    * Row-major: entry u*8+x. */
  private[graft] lazy val dctBasis: Array[Long] =
    (for (u <- 0 until 8; x <- 0 until 8) yield {
      val s = if (u == 0) math.sqrt(1.0 / 8) else 0.5
      math.round(s * math.cos((2 * x + 1) * u * math.Pi / 16) * (1L << DctScaleBits))
    }).toArray

  /** JPEG luminance base quantization table (ITU T.81 Annex K.1,
    * Table K.1 — the published example table every baseline encoder
    * ships), row-major zig-zag-free order. */
  private[graft] val jpegLumaQuant: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** libjpeg's integer quality→table scaling: scale = 5000/Q below 50
    * else 200−2Q, entry = clamp((base·scale + 50)/100, 1, 255) — all
    * integer, so a quality level maps to exactly one table in both
    * engines. Q=100 degenerates to all-ones (near-lossless: only the
    * basis rounding remains). */
  private[graft] def jpegQuantTable(quality: Int): Array[Int] = {
    require(quality >= 1 && quality <= 100, s"quality out of [1,100]: $quality")
    val scale = if (quality < 50) 5000 / quality else 200 - 2 * quality
    jpegLumaQuant.map(b => math.min(255, math.max(1, (b * scale + 50) / 100)))
  }

  /** Round-half-away-from-zero integer division, d > 0 — the one
    * rounding rule used at every lossy step (quantize, inverse
    * descale), chosen because both Spark/JVM and DuckDB express it
    * identically from non-negative floor division. */
  private[graft] def rdivHalfAway(a: Long, d: Long): Long = {
    val h = d / 2
    if (a < 0) -((-a + h) / d) else (a + h) / d
  }

  /** One 8×8 block through the REAL transform-code round trip:
    * level-shift (−128) → integer DCT (T·X·Tᵗ, basis scale 2^22 after
    * both multiplies) → quantize by the quality-scaled table
    * (round-half-away division by q·2^22) → dequantize (×q, true
    * coefficient scale) → integer IDCT (Tᵗ·G·T, descale 2^22,
    * round-half-away) → +128, clamp to [0,255]. Returns (quantized
    * coefficients, reconstructed pixels). Pure integer throughout:
    * ONE wrong basis entry, clamp or rounding rule changes the
    * reconstruction and breaks the oracle hash. */
  private[graft] def dct8x8RoundTrip(pixels: Array[Int], quality: Int)
      : (Array[Long], Array[Int]) = {
    require(pixels.length == 64, s"dct8x8RoundTrip wants 64 pixels, got ${pixels.length}")
    val t = dctBasis
    val q = jpegQuantTable(quality)
    val descale = 1L << (2 * DctScaleBits) // both T multiplies carry 2^11
    val x = pixels.map(p => (p - 128).toLong)
    // forward: G[u][v] = Σ_{i,j} T(u,i)·X(i,j)·T(v,j)
    val g = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var i = 0
        while (i < 8) {
          var j = 0
          while (j < 8) {
            acc += t(u * 8 + i) * x(i * 8 + j) * t(v * 8 + j)
            j += 1
          }
          i += 1
        }
        g(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    // quantize at true-coefficient scale, dequantize back
    val qz = Array.tabulate(64)(k => rdivHalfAway(g(k), q(k).toLong * descale))
    val gq = Array.tabulate(64)(k => qz(k) * q(k))
    // inverse: X'[i][j] = rdiv(Σ_{u,v} T(u,i)·Gq[u][v]·T(v,j), 2^22)
    val recon = new Array[Int](64)
    var i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        var acc = 0L
        var uu = 0
        while (uu < 8) {
          var vv = 0
          while (vv < 8) {
            acc += t(uu * 8 + i) * gq(uu * 8 + vv) * t(vv * 8 + j)
            vv += 1
          }
          uu += 1
        }
        val p = rdivHalfAway(acc, descale) + 128
        recon(i * 8 + j) = math.max(0, math.min(255, p)).toInt
        j += 1
      }
      i += 1
    }
    (qz, recon)
  }

  /** ===== REAL transform-coded (lossy) image codec =====
    * Each payload is an 8×8 grayscale raster (64 bytes, row-major);
    * `qualityCol` picks the JPEG quality level per row. Runs the full
    * integer DCT → quantize → dequantize → IDCT round trip
    * ([[dct8x8RoundTrip]]) and emits per-image codec features: the
    * quantized DC term, the nonzero-coefficient count (the entropy
    * coder's cost proxy), and exact reconstruction-error stats
    * (max |Δ|, Σ Δ², Σ reconstructed) — the distortion/rate columns a
    * curation pipeline filters on. Payloads that are not exactly 64
    * bytes emit ZERO rows (the poison-pill policy of
    * [[decodeImageFeatures]]). Narrow mapPartitions, O(1) work per
    * row — the 100 TB shape is one CPU-bound scan stage, no shuffle
    * before the caller's own aggregation. */
  def imageDctFeatures(media: DataFrame, qualityCol: String): DataFrame =
    codecStage(media, Seq("quality" -> IntegerType, "dc_q" -> LongType,
        "n_nonzero" -> IntegerType, "max_abs_err" -> IntegerType, "sse" -> LongType,
        "recon_sum" -> LongType), qualityCol)(_.flatMap { r =>
      val b = r.getAs[Array[Byte]](1)
      if (b == null || b.length != 64) Iterator.empty
      else {
        val pixels = Array.tabulate(64)(i => b(i) & 0xff)
        val quality = r.getInt(2)
        val (qz, recon) = dct8x8RoundTrip(pixels, quality)
        var k = 0
        var nnz = 0
        var maxErr = 0
        var sse = 0L
        var reconSum = 0L
        while (k < 64) {
          if (qz(k) != 0L) nnz += 1
          val d = pixels(k) - recon(k)
          val a = if (d < 0) -d else d
          if (a > maxErr) maxErr = a
          sse += d.toLong * d
          reconSum += recon(k)
          k += 1
        }
        Iterator.single(Row(r.getLong(0), quality, qz(0), nnz, maxErr, sse, reconSum))
      }
    })

  /** 3×3 box-filter features over per-media rasters via a 2-D
    * INTEGRAL IMAGE computed entirely in window arithmetic — the
    * summed-area table (Crow, SIGGRAPH 1984) that turns any
    * rectangular convolution into 4 corner lookups: II is two
    * cumulative-sum window passes (over x within each row, then over
    * y within each column), and each pixel's clamped 3×3 box sum is
    * II(x₂,y₂) − II(x₀−1,y₂) − II(x₂,y₀−1) + II(x₀−1,y₀−1), realized
    * as a 4-row explode + ONE equi join back to II with signs (out-of-
    * image corners at index −1 fall out of the left join as zero).
    * Everything is exact integer: box sums, clamped window areas, and
    * the high-pass residual energy Σ(v·area − box_sum)² — the
    * blur/sharpness screen of an image-quality triage pass.
    *
    * Scale shape: two window exchanges + one equi join + two rollups,
    * all at pixel grain — linear in total pixels, no per-image
    * collect, box size independent (the integral-image point). Input:
    * (media_id, y, x, v) with v an unsigned byte, w×w raster. */
  def boxFilterFeatures(pixels: DataFrame, w: Int = 8): DataFrame = {
    val wRow = Window.partitionBy("media_id", "y").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCol = Window.partitionBy("media_id", "x").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ii = pixels
      .withColumn("cx", sum(col("v")).over(wRow))
      .withColumn("ii", sum(col("cx")).over(wCol))
      .snapshot() // the 4-corner join build side AND the pixel stream
    val xHi = least(col("x") + 1, lit((w - 1).toLong))
    val yHi = least(col("y") + 1, lit((w - 1).toLong))
    val xLo = greatest(col("x") - 2, lit(-1L))
    val yLo = greatest(col("y") - 2, lit(-1L))
    val corners = ii.select(col("media_id"), col("x"), col("y"), col("v"),
        ((xHi - xLo) * (yHi - yLo)).cast("long").as("cnt"),
        explode(array(
          struct(xHi.as("cx"), yHi.as("cy"), lit(1L).as("sg")),
          struct(xLo.as("cx"), yHi.as("cy"), lit(-1L).as("sg")),
          struct(xHi.as("cx"), yLo.as("cy"), lit(-1L).as("sg")),
          struct(xLo.as("cx"), yLo.as("cy"), lit(1L).as("sg")))).as("c"))
      .select(col("media_id"), col("x"), col("y"), col("v"), col("cnt"),
        col("c.cx").as("cx"), col("c.cy").as("cy"), col("c.sg").as("sg"))
    val boxed = corners
      .join(ii.select(col("media_id"), col("x").as("cx"), col("y").as("cy"),
        col("ii").as("cii")), Seq("media_id", "cx", "cy"), "left")
      .groupBy("media_id", "x", "y")
      .agg(max(col("v")).as("v"), max(col("cnt")).as("cnt"),
        sum(col("sg") * coalesce(col("cii"), lit(0L))).as("box_sum"))
    boxed.groupBy("media_id").agg(
      count(lit(1)).as("n_px"),
      sum(col("v")).as("sum_v"),
      sum(col("box_sum")).as("sum_box"),
      max(col("box_sum")).as("max_box"),
      sum((col("v") * col("cnt") - col("box_sum")) *
          (col("v") * col("cnt") - col("box_sum"))).as("hp_energy"))
  }

  /** 8-bin gradient-orientation histogram per raster — the HOG cell
    * descriptor (Dalal & Triggs, CVPR 2005) in pure window arithmetic
    * and EXACT integers: central differences g_x = v(x+1,y)−v(x−1,y)
    * and g_y = v(x,y+1)−v(x,y−1) are one lead−lag over the row window
    * and one over the column window (edge pixels, whose stencil leaves
    * the raster, are excluded — the (w−2)² interior); the 45° octant
    * comes from SIGN AND MAGNITUDE COMPARISONS ALONE (sgn g_x, sgn
    * g_y, |g_x|≥|g_y| — a 3-way nested CASE in one fixed order, no
    * atan2, no floats), and each pixel votes its L1 magnitude
    * |g_x|+|g_y| into its bin. `dom_bin` is the argmax bin with the
    * lowest index winning ties through the same fixed CASE chain.
    *
    * Scale shape: two window exchanges (media×row, media×col) and one
    * partial-aggregable rollup, all at pixel grain — linear in total
    * pixels, no joins, no collect, fully codegen'd. Input: (media_id,
    * y, x, v) with v an unsigned byte, w×w raster. */
  def gradientHistogram(pixels: DataFrame, w: Int = 8): DataFrame = {
    val wRow = Window.partitionBy("media_id", "y").orderBy("x")
    val wCol = Window.partitionBy("media_id", "x").orderBy("y")
    val g = pixels
      .withColumn("gx", lead(col("v"), 1).over(wRow) - lag(col("v"), 1).over(wRow))
      .withColumn("gy", lead(col("v"), 1).over(wCol) - lag(col("v"), 1).over(wCol))
      .filter(col("x") > 0 && col("x") < (w - 1).toLong &&
        col("y") > 0 && col("y") < (w - 1).toLong)
    val bin = when(abs(col("gx")) >= abs(col("gy")),
        when(col("gx") >= 0,
          when(col("gy") >= 0, lit(0)).otherwise(lit(7)))
        .otherwise(when(col("gy") >= 0, lit(3)).otherwise(lit(4))))
      .otherwise(
        when(col("gy") >= 0,
          when(col("gx") >= 0, lit(1)).otherwise(lit(2)))
        .otherwise(when(col("gx") >= 0, lit(6)).otherwise(lit(5))))
    val aggs = Seq(
      count(lit(1)).as("n_px"),
      sum(col("mag")).as("edge_energy")) ++
      (0 to 7).map(b =>
        sum(when(col("bin") === b, col("mag")).otherwise(lit(0L))).as(s"b$b"))
    val hist = g.select(col("media_id"),
        (abs(col("gx")) + abs(col("gy"))).as("mag"), bin.as("bin"))
      .groupBy("media_id").agg(aggs.head, aggs.tail: _*)
    val m = greatest((0 to 7).map(b => col(s"b$b")): _*)
    val dom = (0 until 7).foldRight(lit(7)) {
      case (b, elseC) => when(col(s"b$b") === m, lit(b)).otherwise(elseC)
    }
    hist.select((Seq(col("media_id"), col("n_px"), col("edge_energy")) ++
      (0 to 7).map(b => col(s"b$b")) ++ Seq(dom.as("dom_bin"))): _*)
  }

  /** ===== Subband/wavelet codec class: LeGall 5/3 integer lifting =====
    * One DWT level of the JPEG2000 REVERSIBLE filter (LeGall & Tabatabai
    * 1988; the lossless path of ITU-T T.800) over a per-media sample
    * series, ENTIRELY relational — the lifting scheme's two steps
    *   d_k = x_{2k+1} − ⌊(x_{2k} + x_{2k+2})/2⌋   (predict)
    *   s_k = x_{2k}   + ⌊(d_{k−1} + d_k + 2)/4⌋   (update)
    * are lag/lead windows over the sample grain, so the whole codec is
    * codegen'd window arithmetic with NO per-row closure; symmetric
    * boundary extension (x_n := x_{n−2}, d_{−1} := d_0) becomes
    * coalesce. The LOSSY half quantizes the detail band with step
    * `step` (half-offset floor, matching a uniform mid-tread
    * quantizer), reconstructs the way a decoder must — evens from
    * (s, d̂) first, odds from (d̂, reconstructed evens) — and emits
    * per-media exact distortion stats plus the subband energy split
    * (compaction = Σs²/(Σs²+Σd²), the "energy concentrates in the
    * approximation band" property that makes the transform worth
    * coding). Input: (media_id, i, x) at sample grain, i contiguous
    * from 0, even count per media. Shape at 100 TB: two per-media
    * window passes and one partial-aggregable rollup — S·n grain, no
    * joins, no collect. */
  def wavelet53Features(samples: DataFrame, step: Int = 16): DataFrame = {
    require(step >= 1, "wavelet53Features: step must be >= 1")
    // the mid-tread offset below is the integer `step / 2`: exact for
    // even steps; an odd step would silently quantize with offset
    // ⌊step/2⌋ — half a unit off the documented uniform mid-tread
    // centering — so the contract rejects it rather than diverge from
    // the docs (and from the oracle literal, which mirrors even steps)
    require(step == 1 || step % 2 == 0,
      s"wavelet53Features: step must be 1 or even for exact mid-tread centering: $step")
    val w = Window.partitionBy("media_id").orderBy("k")
    val paired = samples
      .select(col("media_id"), expr("i div 2").as("k"),
        when(col("i") % 2 === 0, col("x")).as("xe"),
        when(col("i") % 2 === 1, col("x")).as("xo"))
      .groupBy("media_id", "k")
      .agg(max(col("xe")).as("x0"), max(col("xo")).as("x1"))
    val lifted = paired
      .withColumn("x2", coalesce(lead(col("x0"), 1).over(w), col("x0")))
      .withColumn("d",
        col("x1") - floor((col("x0") + col("x2")).cast("double") / 2.0).cast("long"))
      .withColumn("dm", coalesce(lag(col("d"), 1).over(w), col("d")))
      .withColumn("s",
        col("x0") + floor((col("dm") + col("d") + 2L).cast("double") / 4.0).cast("long"))
      .withColumn("dq",
        (floor((col("d") + lit(step / 2)).cast("double") / step).cast("long") * step))
      .withColumn("dqm", coalesce(lag(col("dq"), 1).over(w), col("dq")))
      .withColumn("xe",
        col("s") - floor((col("dqm") + col("dq") + 2L).cast("double") / 4.0).cast("long"))
    val recon = lifted
      .withColumn("xe2", coalesce(lead(col("xe"), 1).over(w), col("xe")))
      .withColumn("xo",
        col("dq") + floor((col("xe") + col("xe2")).cast("double") / 2.0).cast("long"))
    recon.groupBy("media_id").agg(
      (count(lit(1)) * 2L).as("n_samples"),
      sum(col("s") * col("s")).as("energy_s"),
      sum(col("d") * col("d")).as("energy_d"),
      rd(sum(col("s") * col("s")).cast("double") /
          nullifZero((sum(col("s") * col("s")) + sum(col("d") * col("d"))).cast("double")),
        6).as("compaction"),
      max(abs(col("xe") - col("x0"))).as("max_err_even"),
      max(abs(col("xo") - col("x1"))).as("max_err_odd"),
      sum((col("xe") - col("x0")) * (col("xe") - col("x0")) +
          (col("xo") - col("x1")) * (col("xo") - col("x1"))).as("sse"))
  }

  /** Goertzel bins evaluated per payload: (k over an N-sample window,
    * Q14 coefficient ⌊2·cos(2πk/N)·2¹⁴+0.5⌉). Rendered into the
    * DuckDB oracle verbatim ([[imaStepTable]] one-source-of-truth
    * rule). */
  private[graft] val goertzelN = 64
  private[graft] val goertzelBins: Seq[(Int, Long)] =
    Seq(1, 2, 4, 8, 16).map { k =>
      k -> math.round(2.0 * math.cos(2.0 * math.Pi * k / goertzelN) *
        (1L << 14)).toLong
    }

  /** Fixed-point Goertzel tone energies (Goertzel 1958, the embedded
    * DTMF-detector form): for each target bin k the single-pole
    * resonator s₀ = x + ((C·s₁)>>14) − s₂ runs over the payload's
    * first N 16-bit PCM samples with the Q14 coefficient
    * C = ⌊2cos(2πk/N)·2¹⁴+0.5⌉, and the bin power is the standard
    * terminal form s₁² + s₂² − ((C·s₁)>>14)·s₂. INTEGER end to end —
    * `>>` is arithmetic shift in the JVM and on DuckDB BIGINT alike,
    * so the recursion is bit-portable and oracle-checkable (the
    * oracle replays it as a list_reduce over the same samples, seeded
    * by the first element: after sample 1, (s₁,s₂) = (x₁,0)). This is
    * the cheap spectral probe of audio curation — tone/DTMF/hum
    * detection without an FFT, one narrow map over blobs.
    *
    * Scale shape: mapPartitions, no shuffle; 5 bins × O(N) integer
    * ops per payload; output is |media|×bins rows. Headroom: |s| grows
    * ≤ ~2N·32768 ≈ 2²², powers ≤ ~2⁴⁵ — Long-safe by 2¹⁸. */
  def goertzelPower(media: DataFrame, n: Int = goertzelN,
                    bins: Seq[(Int, Long)] = goertzelBins): DataFrame = {
    require(n > 0 && bins.nonEmpty, "goertzelPower: need samples and bins")
    val binArr = bins.toArray
    codecStage(media, Seq("bin_k" -> IntegerType, "n_samples" -> IntegerType,
        "power" -> LongType))(_.flatMap { r =>
      val b = r.getAs[Array[Byte]](1)
      val xs = pcm16(b, 0, 2 * math.min(b.length / 2, n)) // the first n samples
      binArr.iterator.map { case (k, c) =>
        var s1 = 0L
        var s2 = 0L
        var i = 0
        while (i < xs.length) {
          val s0 = xs(i) + ((c * s1) >> 14) - s2
          s2 = s1
          s1 = s0
          i += 1
        }
        val p = s1 * s1 + s2 * s2 - ((c * s1) >> 14) * s2
        Row(r.getLong(0), k, xs.length, p)
      }
    })
  }

  /** Histogram equalization per raster (Gonzalez & Woods §3.3, the
    * standard contrast-normalization pass an image-curation pipeline
    * runs before feature extraction): 16-bin intensity histogram →
    * cumulative distribution → the classic integer remap
    * v' = ((cdf(bin(v)) − cdf_min) · 255) div (n_px − cdf_min),
    * reported as a per-image summary (full-raster checksum of the
    * remapped pixels + the contrast-stretch gain) rather than the
    * remapped raster itself. Every step is EXACT integer arithmetic —
    * counts, prefix sums over the 16 ordered bins, one truncating
    * div — so the checksum is bit-portable.
    *
    * Scale shape: one pixel→bin rollup, one 16-row-per-image window,
    * one equi join back to pixel grain, one final rollup — linear in
    * total pixels, no collect, join build side is 16 rows per image.
    * Input: (media_id, y, x, v) with v an unsigned byte, w×w raster. */
  def histogramEqualize(pixels: DataFrame, w: Int = 8): DataFrame = {
    val nPx = (w * w).toLong
    val binned = pixels.withColumn("bin", expr("v div 16"))
    val hist = binned.groupBy("media_id", "bin")
      .agg(count(lit(1)).as("c"))
      .withColumn("cdf", sum(col("c")).over(
        Window.partitionBy("media_id").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cdf_min", min(when(col("c") > 0, col("cdf"))).over(
        Window.partitionBy("media_id")))
    val remapped = binned
      .join(hist.select(col("media_id"), col("bin"), col("cdf"), col("cdf_min")),
        Seq("media_id", "bin"))
      .withColumn("nv",
        when(lit(nPx) > col("cdf_min"),
          expr(s"((cdf - cdf_min) * 255) div (${nPx}L - cdf_min)"))
          .otherwise(lit(0L)))
    remapped.groupBy("media_id").agg(
      count(lit(1)).as("n_px"),
      // position-weighted checksum pins the full remapped raster
      sum(col("nv") * (col("y") * w + col("x") + 1)).as("checksum"),
      min(col("v")).as("v_min"), max(col("v")).as("v_max"),
      min(col("nv")).as("nv_min"), max(col("nv")).as("nv_max"))
      .select(col("media_id"), col("n_px").cast("long").as("n_px"),
        col("checksum").cast("long").as("checksum"),
        col("nv_min").cast("long").as("nv_min"),
        col("nv_max").cast("long").as("nv_max"),
        ((col("nv_max") - col("nv_min")) - (col("v_max") - col("v_min")))
          .cast("long").as("stretch_gain"))
  }

  /** 2:1 PCM decimation with pair averaging — the cheapest correct
    * resampler (average-then-drop is a 2-tap box low-pass, the
    * anti-alias minimum) and the plumbing shape of every
    * sample-rate-normalization stage an audio-curation pipeline runs:
    * out[i] = (x[2i] + x[2i+1]) div 2 with TRUNCATING division
    * (negative-capable, mirrors DuckDB `//` — the holt/ou
    * convention), per input frame of `frameSamples`; emits the exact
    * output energy, a position-weighted checksum pinning every
    * output sample, and the peak. Narrow mapPartitions over the
    * payload bytes (one pass, no shuffle), like [[pcmFrameFeatures]];
    * a trailing odd sample within a frame is dropped (documented
    * contract — resamplers own their edge policy). */
  def resamplePcm(media: DataFrame, frameSamples: Int = 16): DataFrame = {
    require(frameSamples >= 2 && frameSamples % 2 == 0,
      "resamplePcm: frameSamples must be even and >= 2")
    codecStage(media, Seq("frame_idx" -> IntegerType, "n_out" -> IntegerType,
        "energy_out" -> LongType, "checksum" -> LongType, "peak_out" -> IntegerType))(_.flatMap { r =>
      val b = r.getAs[Array[Byte]](1)
      val xs = pcm16(b, 0, b.length)
      frameBounds(xs.length, frameSamples).map { case (f, start, end) =>
        var i = start
        var k = 0
        var energy = 0L
        var checksum = 0L
        var peak = 0
        while (i + 1 < end) {
          val o = (xs(i) + xs(i + 1)) / 2 // truncates toward zero, like `//`
          energy += o.toLong * o
          checksum += o.toLong * (k + 1)
          val a = if (o < 0) -o else o
          if (a > peak) peak = a
          i += 2
          k += 1
        }
        Row(r.getLong(0), f, k, energy, checksum, peak)
      }
    })
  }

  /** Otsu's automatic threshold (Otsu, IEEE TSMC 1979) per raster over
    * the shared 16-bin histogram lane ([[histogramEqualize]]'s bins) —
    * the classic foreground/background split a binarization stage
    * (document scans, masks, VAD-style silence gates) runs before any
    * morphology. For every candidate split t the between-class
    * variance is evaluated EXACTLY from integer cumulatives:
    * σ²_B(t) = (s0·N − S·w0)² / (N²·w0·(N−w0)) with w0/s0 the pixel
    * count/intensity sum of bins ≤ t — the numerator square stays
    * under ~1.1e12 (exact in a long AND under 2⁵³, so the single
    * double division is bit-deterministic), and the argmax breaks
    * ties to the LOWEST bin through one row_number ordering mirrored
    * verbatim by the oracle.
    *
    * Scale shape: one pixel→bin rollup, two cumulative windows at
    * (media × 16-bin) grain, one argmax window — linear in pixels,
    * no joins. Rasters whose 64 pixels land in a single bin have no
    * valid split and drop out (both engines agree). */
  def otsuThreshold(pixels: DataFrame, w: Int = 8): DataFrame = {
    val nPx = (w * w).toLong
    val binned = pixels.withColumn("bin", expr("v div 16"))
    val wBin = Window.partitionBy("media_id").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned.groupBy("media_id", "bin")
      .agg(count(lit(1)).as("c"), sum(col("v")).as("s"))
      .withColumn("w0", sum(col("c")).over(wBin))
      .withColumn("s0", sum(col("s")).over(wBin))
      .withColumn("stot", sum(col("s")).over(Window.partitionBy("media_id")))
    val num = col("s0") * nPx - col("stot") * col("w0")
    val sigma = (num * num).cast("double") /
      ((col("w0") * (lit(nPx) - col("w0"))).cast("double") * (nPx * nPx).toDouble)
    cum.filter(col("w0") > 0L && col("w0") < nPx)
      .withColumn("sigma", sigma)
      .withColumn("rn", row_number().over(Window.partitionBy("media_id")
        .orderBy(col("sigma").desc, col("bin").asc)))
      .filter(col("rn") === 1)
      .select(col("media_id"),
        col("bin").cast("long").as("thr_bin"),
        ((col("bin") + 1L) * 16L).cast("long").as("thr_value"),
        col("w0").cast("long").as("n_bg"),
        (lit(nPx) - col("w0")).cast("long").as("n_fg"),
        rd(col("sigma"), 4).as("between_var"))
  }

  /** 3×3 binary erosion / dilation over the thresholded raster — the
    * denoise/solidify pass that follows a binarization like
    * [[otsuThreshold]] in every mask-cleanup pipeline. Foreground is
    * v ≥ `thr`; the 3×3 neighborhood count n9 comes from two
    * SEPARABLE window sums (a ±1 row window along x, then a ±1
    * column window along y over the row sums — the O(w²) separable
    * min/max-filter trick in its counting form), so erosion is
    * n9 = 9 and dilation n9 ≥ 1 with zero joins. Border pixels whose
    * stencil leaves the raster are excluded (the (w−2)² interior,
    * [[gradientHistogram]]'s edge policy); position-weighted
    * checksums pin both output masks exactly, and the
    * dilate−erode difference is the morphological gradient (the
    * boundary-thickness signal).
    *
    * Scale shape: two window exchanges at pixel grain (media×row,
    * media×col) + one partial-aggregable rollup — linear in total
    * pixels, the [[boxFilterFeatures]] cost envelope. */
  def morphology3x3(pixels: DataFrame, w: Int = 8, thr: Int = 128): DataFrame = {
    val wRow = Window.partitionBy("media_id", "y").orderBy("x").rowsBetween(-1, 1)
    val wCol = Window.partitionBy("media_id", "x").orderBy("y").rowsBetween(-1, 1)
    val pos = col("y") * w + col("x") + 1L
    pixels
      .withColumn("f", when(col("v") >= thr, 1L).otherwise(0L))
      .withColumn("r3", sum(col("f")).over(wRow))
      .withColumn("n9", sum(col("r3")).over(wCol))
      .filter(col("x") >= 1 && col("x") <= w - 2 &&
        col("y") >= 1 && col("y") <= w - 2)
      .groupBy("media_id").agg(
        count(lit(1)).as("n_interior"),
        sum(col("f")).as("n_fg"),
        sum(when(col("n9") === 9L, 1L).otherwise(0L)).as("n_erode"),
        sum(when(col("n9") >= 1L, 1L).otherwise(0L)).as("n_dilate"),
        sum(when(col("n9") === 9L, pos).otherwise(0L)).as("erode_checksum"),
        sum(when(col("n9") >= 1L, pos).otherwise(0L)).as("dilate_checksum"))
      .select(col("media_id"),
        col("n_interior").cast("long").as("n_interior"),
        col("n_fg").cast("long").as("n_fg"),
        col("n_erode").cast("long").as("n_erode"),
        col("n_dilate").cast("long").as("n_dilate"),
        (col("n_dilate") - col("n_erode")).cast("long").as("gradient_px"),
        col("erode_checksum").cast("long").as("erode_checksum"),
        col("dilate_checksum").cast("long").as("dilate_checksum"))
  }

  /** Per-frame zero-crossing rate + mean-absolute amplitude over the
    * PCM16 lane — THE cheap voiced/unvoiced/noise discriminator
    * (high ZCR + low energy ⇒ fricatives/noise; low ZCR + high
    * energy ⇒ voiced speech) every audio-curation pass runs next to
    * [[pcmFrameFeatures]]'s energy. A crossing is a sign-class flip
    * between consecutive samples within the frame, with v ≥ 0 as the
    * non-negative class (zero counts as positive — the documented
    * edge contract); sum_abs is the exact Σ|v| long. FULL FRAMES
    * ONLY: a trailing partial frame (payload length not a multiple
    * of 2·frameSamples) is dropped, so every emitted row has
    * n_samples = frameSamples — the contract the DuckDB mirror
    * assumes, and the one every fixed-frame audio featurizer uses
    * (a 7-sample "frame" has no comparable ZCR). Narrow
    * mapPartitions over payload bytes, one pass, no shuffle. */
  def zcrFrames(media: DataFrame, frameSamples: Int = 16): DataFrame = {
    require(frameSamples > 0, "zcrFrames: frameSamples must be positive")
    codecStage(media, Seq("frame_idx" -> IntegerType, "n_samples" -> IntegerType,
        "crossings" -> IntegerType, "sum_abs" -> LongType))(_.flatMap { r =>
      val b = r.getAs[Array[Byte]](1)
      val xs = pcm16(b, 0, b.length)
      frameBounds(xs.length, frameSamples, fullOnly = true).map { case (f, start, end) =>
        var i = start
        var crossings = 0
        var sumAbs = 0L
        while (i < end) {
          val v = xs(i)
          if (i > start && (v >= 0) != (xs(i - 1) >= 0)) crossings += 1
          sumAbs += (if (v < 0) -v else v).toLong
          i += 1
        }
        Row(r.getLong(0), f, end - start, crossings, sumAbs)
      }
    })
  }
}
