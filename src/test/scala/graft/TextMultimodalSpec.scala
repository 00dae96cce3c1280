package graft

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import graft.operators.{Multimodal, TextAnalysis}

class TextMultimodalSpec extends AnyFunSpec {
  import SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat and the dog sat of the mat in a box"),
    (2L, "der hund und die katze ist ein tier"),
    (3L, "xyzzy qwerty plugh"))
    .toDF("doc_id", "text")

  describe("TextAnalysis") {
    it("language ID picks the dominant stopword profile") {
      val out = TextAnalysis.languageId(docs, "text")
        .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
      assert(out(1L) == "en")
      assert(out(2L) == "de")
      assert(out(3L) == "und") // no stopwords at all
    }
    it("token stats: counts, diversity, subwords") {
      val row = TextAnalysis.tokenStats(docs, "text").filter($"doc_id" === 1).head()
      assert(row.getAs[Int]("n_tokens") == 12)
      assert(row.getAs[Int]("n_distinct_tokens") == 10) // 'the' ×3
      assert(row.getAs[Int]("n_subword_tokens") == 12)  // pure [a-z ] text
    }
    it("quality score is in [0,1] and higher for stopword-rich text") {
      val q = TextAnalysis.qualityScore(docs, "text")
        .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
      assert(q.values.forall(v => v >= 0 && v <= 1))
      assert(q(1L) > q(3L))
    }
    it("token rarity: shared vocabulary scores higher mean_df than a gibberish doc") {
      val corpus = Seq(
        (1L, "the market rose today"), (2L, "the market fell today"),
        (3L, "the market was flat today"),
        (4L, "zxqv wkjp qqzz mmvv")) // vocabulary nothing else shares
        .toDF("doc_id", "text")
      val r = TextAnalysis.tokenRarity(corpus, "doc_id", "text")
        .select("doc_id", "mean_df").as[(Long, Double)].collect().toMap
      assert(r(4L) == 1.0) // every token appears in exactly its own doc
      assert(Seq(1L, 2L, 3L).forall(id => r(id) > 2.0), r.toString)
    }
  }

  describe("invertedIndex") {
    it("counts df on the distinct doc grain and caps postings at sampleK in sorted order") {
      val d = Seq(
        (5L, "alpha beta alpha"),  // repeated token -> one posting
        (2L, "alpha gamma"),
        (9L, "alpha"))
        .toDF("doc_id", "text")
      val idx = TextAnalysis.invertedIndex(d, "doc_id", "text", sampleK = 2)
        .collect()
        .map(r => r.getAs[String]("token") ->
          (r.getAs[Long]("df"), r.getAs[scala.collection.Seq[Long]]("postings").toSeq))
        .toMap
      assert(idx("alpha") == ((3L, Seq(2L, 5L)))) // df counts all 3, postings capped at 2
      assert(idx("beta") == ((1L, Seq(5L))))
      assert(idx("gamma") == ((1L, Seq(2L))))
    }
  }

  describe("digest gate forms") {
    it("postings digest = md5 of the comma-joined sorted doc ids (format pinned vs MessageDigest)") {
      // q_inverted_index/q_bpe_encode register md5-of-joined-list
      // digests; this pins the exact serialization (comma join, plain
      // Long.toString) against an independent JDK hash, so a quiet
      // format change can't silently keep hash-matching a same-format
      // oracle while meaning something else.
      val docs = Seq((2L, "x y"), (5L, "x")).toDF("doc_id", "text")
      val got = TextAnalysis.invertedIndex(docs, "doc_id", "text", sampleK = 16)
        .select($"token",
          md5(concat_ws(",", transform($"postings", _.cast("string")))).as("d"))
        .filter($"token" === "x").head().getString(1)
      val exp = java.security.MessageDigest.getInstance("MD5")
        .digest("2,5".getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got == exp)
    }
  }

  describe("corpusFilter") {
    it("names the FIRST failing gate: too_short beats lang_mismatch beats low_quality") {
      val d = Seq(
        (1L, "en", "the cat and the dog sat of the mat in a box today again"), // kept
        (2L, "de", "kurz"),                                   // short AND lang-mismatched -> too_short
        (3L, "de", "the cat and the dog sat of the mat in a box today again"), // lang_mismatch
        (4L, "en", "x y z q w e r t y u i o p a s"))          // long enough, en-undetected
        .toDF("doc_id", "lang", "text")
      val out = graft.operators.TextAnalysis
        .corpusFilter(d, "doc_id", "text", "lang", minTokens = 10, minQuality = 0.3)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("drop_reason"), r.getAs[Boolean]("keep"))).toMap
      assert(out(1L) == (("kept", true)))
      assert(out(2L) == (("too_short", false)))
      assert(out(3L) == (("lang_mismatch", false)))
      assert(out(4L)._1 == "lang_mismatch") // 'und' != 'en'
    }
  }

  describe("bpeMergeCandidates") {
    it("ranks adjacent subword pairs; punctuation splits into its own token") {
      val d = Seq((1L, "low low lowest"), (2L, "low low!")).toDF("doc_id", "text")
      // pre-tokens: [low, low, lowest] and [low, low, !]
      val out = TextAnalysis.bpeMergeCandidates(d, "text", k = 3)
        .collect().map(r => (r.getAs[String]("pair"), r.getAs[Long]("n"))).toSeq
      assert(out.head == (("low low", 2L))) // the merge BPE would learn next
      assert(out.contains(("low !", 1L)))
      assert(out.contains(("low lowest", 1L)))
    }
  }

  describe("clusterTopTerms") {
    it("labels each cluster with its dominant vocabulary") {
      val d = Seq(
        (1L, "market stocks trading market stocks"),
        (2L, "market trading stocks market"),
        (3L, "recipes cooking baking recipes"),
        (4L, "cooking recipes baking cooking"))
        .toDF("doc_id", "text")
      val assign = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("id", "cell")
      val top = TextAnalysis.clusterTopTerms(d, "doc_id", "text", assign, k = 1)
        .collect().map(r => r.getAs[Long]("cell") -> r.getAs[String]("token")).toMap
      assert(top(0L) == "market")
      assert(top(1L) == "cooking" || top(1L) == "recipes") // 4-4 tie -> token order
      assert(top(1L) == "cooking") // alphabetical tiebreak
    }
  }

  describe("repetitionSignals") {
    it("flags degenerate repetition and passes diverse text") {
      val d = Seq(
        (1L, "click here click here click here click here"), // "click here" ×4 of 7 bigrams
        (2L, "a quiet brown fox walks over seven lazy dogs"),
        (3L, "single")) // <2 words: no bigrams, no row
      .toDF("doc_id", "text")
      val out = TextAnalysis.repetitionSignals(d, "doc_id", "text")
        .select("doc_id", "n_bigrams", "top_bigram_count", "top_bigram_frac")
        .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
      assert(out(1L) == ((1L, 7L, 4L, 0.5714)))
      assert(out(2L)._3 == 1L) // every bigram unique
      assert(!out.contains(3L))
    }
  }

  describe("crossDocDupNgrams") {
    it("scores verbatim copies 1.0 and unique docs 0.0") {
      val docs = Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta epsilon"), // verbatim copy of 1
        (3L, "zeta eta theta iota kappa lambda") // shares nothing
      ).toDF("doc_id", "text")
      val out = TextAnalysis.crossDocDupNgrams(docs, "doc_id", "text")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_frac")).toMap
      assert(out(1L) == 1.0 && out(2L) == 1.0 && out(3L) == 0.0)
    }
  }

  describe("piiSignals") {
    it("counts emails/urls and measures digit density") {
      val d = Seq(
        (1L, "contact me at jane.doe@example.com or bob@test.org today"),
        (2L, "see https://example.com/a and http://b.io now"),
        (3L, "pin 1234 code 56")).toDF("doc_id", "text")
      val out = TextAnalysis.piiSignals(d, "text")
        .select("doc_id", "email_count", "url_count", "digit_frac")
        .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
      assert(out(1L)._2 == 2L && out(1L)._3 == 0L)
      assert(out(2L)._2 == 0L && out(2L)._3 == 2L)
      assert(out(3L)._4 == 0.375) // 6 digits / 16 chars
    }
  }

  describe("Multimodal.pcmFrameFeatures") {
    it("computes exact energy and peak for known samples") {
      // samples (LE int16): 1, -1, 256, -32768
      val bytes = Array[Byte](1, 0, -1, -1, 0, 1, 0, -128)
      val media = Seq((1L, bytes)).toDF("media_id", "payload")
      val rows = Multimodal.pcmFrameFeatures(media, frameSamples = 4)
        .collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
      assert(rows.toSeq == Seq((0, 4, 1L + 1L + 65536L + 1073741824L, 32768)))
    }
    it("keeps the trailing partial frame and ignores a trailing odd byte") {
      val bytes = Array[Byte](2, 0, 3, 0, 4, 0, 99) // 3 samples + odd byte
      val media = Seq((1L, bytes)).toDF("media_id", "payload")
      val rows = Multimodal.pcmFrameFeatures(media, frameSamples = 2)
        .orderBy("frame_idx")
        .collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
      assert(rows.toSeq == Seq((0, 2, 13L, 3), (1, 1, 16L, 4)))
    }
    it("emits no frames for an empty payload") {
      val media = Seq((1L, Array.empty[Byte])).toDF("media_id", "payload")
      assert(Multimodal.pcmFrameFeatures(media).isEmpty)
    }
  }

  describe("Multimodal WAV container") {
    // samples (LE int16): 1, -1, 256, -32768
    val pcm = Array[Byte](1, 0, -1, -1, 0, 1, 0, -128)

    it("toWav ∘ wavFrameFeatures round-trips header fields and frame math") {
      val media = Seq((7L, pcm, 12000)).toDF("media_id", "payload", "rate")
      val rows = Multimodal.wavFrameFeatures(
          Multimodal.toWav(media, "rate"), frameSamples = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getLong(5), r.getInt(6)))
      assert(rows.toSeq ==
        Seq((7L, 12000, 1, 0, 4, 1L + 1L + 65536L + 1073741824L, 32768)))
    }
    it("parse tolerates extra chunks before data and odd-size padding") {
      // RIFF with a 3-byte LIST chunk (padded to 4) between fmt and data
      val fmtAndData = Multimodal.wavHeader(pcm.length, 8000, 1)
      val head = fmtAndData.slice(0, 36)         // RIFF..fmt chunk
      val dataChunk = fmtAndData.slice(36, 44) ++ pcm
      val list = "LIST".getBytes("US-ASCII") ++
        Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)      // size=3, 1 pad byte
      val wav = head ++ list ++ dataChunk
      val info = Multimodal.parseWav(wav)
      assert(info.exists(w => w.sampleRate == 8000 && w.dataLen == pcm.length))
      val media = Seq((1L, wav)).toDF("media_id", "payload")
      assert(Multimodal.wavFrameFeatures(media, 4).count() == 1)
    }
    it("corrupt or non-WAV payloads emit zero frames, not a failed job") {
      val media = Seq(
        (1L, Array.fill[Byte](50)(42)),                       // not RIFF
        (2L, Multimodal.wavHeader(100, 8000, 1)),             // truncated data
        (3L, "RIFF1234WAVE".getBytes("US-ASCII")),            // header only
        (4L, Multimodal.wavHeader(pcm.length, 8000, 1) ++ pcm) // valid
      ).toDF("media_id", "payload")
      val out = Multimodal.wavFrameFeatures(media, 4)
      assert(out.select("media_id").as[Long].collect().toSeq == Seq(4L))
    }
    it("rejects non-PCM formats (float WAV must not frame as int16)") {
      val h = Multimodal.wavHeader(pcm.length, 8000, 1)
      h(20) = 3 // audioFormat = IEEE float
      assert(Multimodal.parseWav(h ++ pcm).isEmpty)
    }
    it("stereo WAV parses with n_channels=2 and frames the interleaved sample stream") {
      val wav = Multimodal.wavHeader(pcm.length, 44100, 2) ++ pcm
      val info = Multimodal.parseWav(wav)
      assert(info.exists(w => w.channels == 2 && w.sampleRate == 44100))
      val media = Seq((1L, wav)).toDF("media_id", "payload")
      val r = Multimodal.wavFrameFeatures(media, 4).collect()
      // framing is over the flat interleaved stream (documented):
      // 4 samples -> 1 frame, same energy as the mono case
      assert(r.length == 1 && r(0).getInt(2) == 2 &&
        r(0).getLong(5) == 1L + 1L + 65536L + 1073741824L)
    }
    it("G.711 μ-law expansion matches known ITU values and frames through the WAV lane") {
      // canonical points of the μ-law table
      assert(Multimodal.ulawToLinear(0xFF.toByte) == 0)      // +0
      assert(Multimodal.ulawToLinear(0x7F.toByte) == 0)      // -0
      assert(Multimodal.ulawToLinear(0x00.toByte) == -32124) // max negative
      assert(Multimodal.ulawToLinear(0x80.toByte) == 32124)  // max positive
      assert(Multimodal.ulawToLinear(0xFE.toByte) == 8)      // smallest nonzero step
      assert(Multimodal.ulawToLinear(0x7E.toByte) == -8)
      // monotone over the positive half-table (codes 0x80..0xFF
      // decode to descending magnitudes as the code increases)
      val pos = (0x80 to 0xFF).map(c => Multimodal.ulawToLinear(c.toByte))
      assert(pos.sliding(2).forall { case Seq(a, b) => a >= b })
      // format-7 container round trip: 2 codes -> 1 frame of 2 samples
      val wav = Multimodal.wavHeader(2, 8000, 1, Multimodal.WavUlaw) ++
        Array[Byte](0x00.toByte, 0xFF.toByte)
      val media = Seq((1L, wav)).toDF("media_id", "payload")
      val r = Multimodal.wavFrameFeatures(media, 4).head()
      assert(r.getInt(4) == 2 &&
        r.getLong(5) == 32124L * 32124L && r.getInt(6) == 32124)
      // μ-law claiming 16 bits, or PCM claiming 8, must not parse
      val bad = Multimodal.wavHeader(2, 8000, 1, Multimodal.WavUlaw)
      bad(34) = 16
      assert(Multimodal.parseWav(bad ++ Array[Byte](0, 0)).isEmpty)
    }
    it("IMA ADPCM block decode matches the reference state machine and frames through the WAV lane") {
      // hand-traced through the IMA tables: header pred=0x1234=4660,
      // idx=5, data 0xA7 0x3F -> nibbles (low first) 7, A, F, 3
      val block = Array[Byte](0x34, 0x12, 5, 0, 0xA7.toByte, 0x3F)
      assert(Multimodal.imaAdpcmDecode(block, 0, block.length).toSeq ==
        Seq(4660, 4682, 4667, 4626, 4669))
      // clamps: out-of-range header index (200 -> 88), predictor
      // pinned at the int16 floor under repeated max-subtract nibbles
      val floor = Array[Byte](0x00, 0x80.toByte, 200.toByte, 0, 0xFF.toByte)
      assert(Multimodal.imaAdpcmDecode(floor, 0, floor.length).toSeq ==
        Seq(-32768, -32768, -32768))
      // header-only and truncated blocks decode to nothing
      assert(Multimodal.imaAdpcmDecode(block, 0, 4).toSeq == Seq(4660))
      assert(Multimodal.imaAdpcmDecode(block, 0, 3).isEmpty)
      // format-0x11 container round trip: 5 samples -> 1 frame
      val wav = Multimodal.wavHeader(block.length, 8000, 1, Multimodal.WavImaAdpcm) ++ block
      val info = Multimodal.parseWav(wav)
      assert(info.exists(w => w.audioFormat == Multimodal.WavImaAdpcm &&
        w.bitsPerSample == 4 && w.dataLen == block.length))
      val media = Seq((1L, wav)).toDF("media_id", "payload")
      val r = Multimodal.wavFrameFeatures(media, 8).head()
      val exp = Seq(4660, 4682, 4667, 4626, 4669)
      assert(r.getInt(4) == 5 &&
        r.getLong(5) == exp.map(v => v.toLong * v).sum && r.getInt(6) == 4682)
      // ADPCM claiming 16 bits must not parse
      val badA = Multimodal.wavHeader(block.length, 8000, 1, Multimodal.WavImaAdpcm)
      badA(34) = 16
      assert(Multimodal.parseWav(badA ++ block).isEmpty)
    }
    it("AVI container: encode ∘ parse round-trips headers and per-frame raster stats") {
      val f0 = Array[Byte](1, 2, 3, 4)
      val f1 = Array[Byte](250.toByte, 0, 255.toByte, 5)
      val avi = Multimodal.encodeAvi(Array(f0, f1), width = 2, height = 2, fps = 30)
      val info = Multimodal.parseAvi(avi)
      assert(info.exists(a => a.width == 2 && a.height == 2 && a.fps == 30 &&
        a.nFrames == 2 && a.frames.length == 2))
      // frame positions slice back the exact original bytes
      info.get.frames.zip(Seq(f0, f1)).foreach { case ((off, len), exp) =>
        assert(avi.slice(off, off + len).toSeq == exp.toSeq)
      }
      val media = Seq((9L, avi)).toDF("media_id", "payload")
      val rows = Multimodal.aviFrameFeatures(media).orderBy("frame_idx")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7), r.getInt(8), r.getInt(9)))
      assert(rows.toSeq == Seq(
        (9L, 2, 2, 30, 0, 4, 10L, 30L, 1, 4),
        (9L, 2, 2, 30, 1, 4, 510L, 127550L, 0, 255)))
    }
    it("AVI frame deltas measure motion vs the previous frame (frame 0 vs black)") {
      val f0 = Array[Byte](1, 2, 3, 4)
      val f1 = Array[Byte](250.toByte, 0, 255.toByte, 5)
      val avi = Multimodal.encodeAvi(Array(f0, f1), 2, 2, 24)
      val media = Seq((3L, avi)).toDF("media_id", "payload")
      val rows = Multimodal.aviFrameDeltas(media).orderBy("frame_idx")
        .collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
      // frame 0: Σ|p−0| = 10, max 4; frame 1: |249|+|2|+|252|+|1| = 504, max 252
      assert(rows.toSeq == Seq((0, 4, 10L, 4), (1, 4, 504L, 252)))
      // composes with energySegments: both frames clear a low threshold -> one segment
      val segs = Multimodal.energySegments(Multimodal.aviFrameDeltas(media), 5L).collect()
      assert(segs.length == 1 && segs(0).getInt(2) == 0 && segs(0).getInt(3) == 1)
    }
    it("AVI parse tolerates extra chunks and rejects non-gray or inconsistent containers") {
      val f0 = Array[Byte](1, 2, 3, 4)
      val avi = Multimodal.encodeAvi(Array(f0), 2, 2, 24)
      // splice a JUNK chunk (odd size 3, padded) right after hdrl and
      // before movi: nested walk must skip it and still find the frame
      def u32le(v: Int) = Array[Byte](
        (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      val junk = "JUNK".getBytes("US-ASCII") ++ u32le(3) ++ Array[Byte](7, 7, 7, 0)
      val moviAt = {
        // locate the movi LIST: scan for the 'movi' fourcc
        val s = new String(avi, "ISO-8859-1")
        s.indexOf("movi") - 8
      }
      val spliced = avi.slice(0, moviAt) ++ junk ++ avi.drop(moviAt)
      // fix the RIFF size field for the inserted bytes
      System.arraycopy(u32le(spliced.length - 8), 0, spliced, 4, 4)
      val info = Multimodal.parseAvi(spliced)
      assert(info.exists(a => a.nFrames == 1 && a.fps == 24))
      // 24-bit strf must not parse (this lane's contract is 8-bit gray)
      val bad24 = Multimodal.encodeAvi(Array(f0), 2, 2, 24)
      val strfAt = new String(bad24, "ISO-8859-1").indexOf("strf")
      bad24(strfAt + 8 + 14) = 24
      assert(Multimodal.parseAvi(bad24).isEmpty)
      // frame-count mismatch between avih and movi must not parse
      val lying = Multimodal.encodeAvi(Array(f0), 2, 2, 24)
      val avihAt = new String(lying, "ISO-8859-1").indexOf("avih")
      lying(avihAt + 8 + 16) = 5 // dwTotalFrames = 5, movi has 1
      assert(Multimodal.parseAvi(lying).isEmpty)
      // non-AVI payloads emit zero frames through the feature op
      val media = Seq(
        (1L, Array.fill[Byte](64)(42)),
        (2L, "RIFF1234AVI ".getBytes("US-ASCII")),
        (3L, avi)).toDF("media_id", "payload")
      assert(Multimodal.aviFrameFeatures(media)
        .select("media_id").as[Long].collect().toSeq == Seq(3L))
    }

    it("energySegments groups contiguous voiced frames into islands") {
      val frames = Seq(
        (1L, 0, 4, 10L, 3), (1L, 1, 4, 2L, 1), (1L, 2, 4, 5L, 2),
        (1L, 3, 4, 9L, 3), (1L, 4, 2, 8L, 2),
        (2L, 0, 4, 1L, 1)) // media 2: all silent
        .toDF("media_id", "frame_idx", "n_samples", "energy", "peak")
      val segs = Multimodal.energySegments(frames, minFrameEnergy = 5L)
        .orderBy("media_id", "seg_idx")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6), r.getInt(7)))
      assert(segs.toSeq == Seq(
        (1L, 0, 0, 0, 1, 4L, 10L, 3),   // lone voiced frame
        (1L, 1, 2, 4, 3, 10L, 22L, 3))) // contiguous run 2..4
    }
    it("energySegments mergeGap fuses runs split by short silences (VAD hangover)") {
      val frames = Seq(
        (1L, 0, 4, 10L, 3), (1L, 1, 4, 2L, 1), (1L, 2, 4, 5L, 2),
        (1L, 3, 4, 9L, 3), (1L, 4, 2, 8L, 2))
        .toDF("media_id", "frame_idx", "n_samples", "energy", "peak")
      val segs = Multimodal.energySegments(frames, minFrameEnergy = 5L, mergeGap = 1)
        .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(6)))
      // the single silent frame 1 is bridged: one segment spanning 0..4,
      // but its stats cover only the 4 voiced frames
      assert(segs.toSeq == Seq((0, 0, 4, 4, 32L)))
    }
  }

  describe("Multimodal") {
    lazy val media = Multimodal.asMedia(docs, "doc_id", "text")

    it("binary payload round-trips with byte-exact metadata") {
      val m = media.filter($"media_id" === 1).head()
      val meta = m.getStruct(m.fieldIndex("meta"))
      assert(meta.getAs[Int]("n_bytes") == "the cat and the dog sat of the mat in a box".length)
      assert(meta.getAs[Int]("n_frames") == 1)
    }
    it("frame sampling covers the payload exactly once") {
      val big = Seq((9L, "ab" * 400)).toDF("doc_id", "text") // 800 bytes → 4 frames
      val frames = Multimodal.sampleFrames(Multimodal.asMedia(big, "doc_id", "text"))
      assert(frames.count() == 4)
      assert(frames.agg(sum("frame_len")).as[Long].head() == 800)
    }
    it("empty payloads produce zero frames (sequence(0,-1) guard)") {
      val empty = Seq((9L, "")).toDF("doc_id", "text")
      assert(Multimodal.sampleFrames(Multimodal.asMedia(empty, "doc_id", "text")).isEmpty)
    }
    it("real ImageIO roundtrip: decode(encode(bytes)) recovers the raster exactly") {
      val px1 = Array.tabulate[Byte](16)(i => (i * 17).toByte)     // 4×4 gradient
      val px2 = Array.tabulate[Byte](8)(i => (255 - i * 31).toByte) // 4×2
      val m = Seq((1L, px1), (2L, px2)).toDF("media_id", "payload")
      val got = Multimodal.decodeImageFeatures(Multimodal.toGrayPng(m, width = 4))
        .orderBy("media_id")
        .as[(Long, Option[Int], Option[Int], Option[String], Boolean)].collect().toSeq
      def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02X").mkString
      assert(got == Seq(
        (1L, Some(4), Some(4), Some(hex(px1)), true),
        (2L, Some(4), Some(2), Some(hex(px2)), true)))
    }
    it("decodes an externally authored RGB PNG with per-band samples") {
      // a 2×1 image: red pixel then blue pixel, written by ImageIO itself
      val img = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x0000ff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val m = Seq((7L, bos.toByteArray)).toDF("media_id", "payload")
      val got = Multimodal.decodeImageFeatures(m)
        .as[(Long, Option[Int], Option[Int], Option[String], Boolean)].head()
      assert(got == ((7L, Some(2), Some(1), Some("FF00000000FF"), true)))
    }
    it("corrupt payloads degrade to decode_ok = false, not a failed job") {
      val m = Seq((9L, "not a png at all".getBytes("UTF-8"))).toDF("media_id", "payload")
      val got = Multimodal.decodeImageFeatures(m)
        .as[(Long, Option[Int], Option[Int], Option[String], Boolean)].head()
      assert(got == ((9L, None, None, None, false)))
    }
  }

  describe("bpeEncode") {
    it("applies learned merges greedily left-to-right") {
      // corpus dominated by 'a b' then 'ab c' at the pre-token grain
      val docs = Seq(
        (1L, "a b c a b c a b"),
        (2L, "a b c"),
        (3L, "x y"))
        .toDF("doc_id", "text")
      val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", numMerges = 2)
        .orderBy("doc_id").collect()
      // merges learned: ('a b' n=4? ...) rank 1, ('b c' or 'ab c')...
      // whatever the ranks, doc 3 is untouched:
      assert(enc(2).getSeq[String](3) == Seq("x", "y"))
      // doc 2: 'a b' merges to 'ab'; then if 'ab c' ranked, -> 'abc'
      val d2 = enc(1).getSeq[String](3)
      assert(d2 == Seq("ab", "c") || d2 == Seq("abc"))
      assert(enc(1).getAs[Long]("n_subwords") == 3L)
      // consecutive merge greediness: 'a a a' with merge (a,a) -> [aa, a]
      val tri = Seq((1L, "a a a"), (2L, "a a")).toDF("doc_id", "text")
      val t = TextAnalysis.bpeEncode(tri, "doc_id", "text", numMerges = 1)
        .orderBy("doc_id").collect()
      assert(t(0).getSeq[String](3) == Seq("aa", "a"))
      assert(t(1).getSeq[String](3) == Seq("aa"))
    }
    it("empty and sub-shingle docs encode to empty, not errors") {
      val docs = Seq((1L, ""), (2L, "solo")).toDF("doc_id", "text")
      val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text")
        .orderBy("doc_id").collect()
      assert(enc(0).getAs[Long]("n_bpe") == 0L)
      assert(enc(0).getSeq[String](3) == Seq.empty)
      assert(enc(1).getSeq[String](3) == Seq("solo"))
    }
  }

  describe("langConfusion") {
    it("row fractions sum to 1 per label and counts match the corpus") {
      val d = graft.sources.Tables.documents(SharedSpark.spark, "/root/testdata/sf0.001")
      val got = TextAnalysis.langConfusion(d, "lang", "text").collect()
      val byLang = got.groupBy(_.getAs[String]("lang"))
      byLang.values.foreach { rows =>
        val s = rows.map(_.getAs[Double]("frac_of_lang")).sum
        assert(math.abs(s - 1.0) < 1e-3, s"row fracs sum $s")
      }
      assert(got.map(_.getAs[Long]("n")).sum == d.count())
    }
  }

  describe("embeddingDrift") {
    it("identical halves give cosine 1; opposed halves give -1") {
      val v = Array.fill(8)(0.25f)
      val same = Seq((0L, v), (1L, v), (2L, v), (3L, v))
        .toDF("vec_id", "embedding")
      val s = graft.operators.Similarity
        .embeddingDrift(same, "vec_id", "embedding").collect().head
      assert(s.getAs[Long]("n_a") == 2L && s.getAs[Long]("n_b") == 2L)
      assert(s.getAs[Double]("centroid_cosine") == 1.0)
      val opp = Seq((0L, v), (1L, v.map(-_)))
        .toDF("vec_id", "embedding")
      val o = graft.operators.Similarity
        .embeddingDrift(opp, "vec_id", "embedding").collect().head
      assert(o.getAs[Double]("centroid_cosine") == -1.0)
    }
  }

  describe("heapsLaw") {
    it("nested prefixes grow vocabulary and token counts exactly") {
      val d = Seq((1L, "a b"), (2L, "a c"), (3L, "d"), (4L, "a"))
        .toDF("doc_id", "text")
      val got = TextAnalysis.heapsLaw(d, "doc_id", "text")
        .orderBy("pct").collect()
      assert(got.map(r => (r.getAs[Int]("pct"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"))).toSeq ==
        Seq((25, 1L, 2L, 2L), (50, 2L, 4L, 3L),
            (75, 3L, 5L, 4L), (100, 4L, 6L, 4L)))
    }
  }

  describe("rakeKeywords") {
    it("hand case: degree/freq word scores sum per phrase, ties rank by text") {
      // phrases: "deep learning" x2, "neural networks"; every word
      // scores degree/freq = 2.0, so both distinct phrases score 4.0
      val d = Seq((1L, "deep learning of neural networks and the deep learning"))
        .toDF("doc_id", "text")
      val got = TextAnalysis.rakeKeywords(d, "doc_id", "text")
        .orderBy("rank").collect()
      assert(got.map(_.getAs[String]("phrase")).toSeq ==
        Seq("deep learning", "neural networks"))
      assert(got.forall(_.getAs[Double]("score") == 4.0))
      assert(got.forall(_.getAs[Long]("n_words") == 2L))
    }
    it("stopword-only documents produce no phrases") {
      val d = Seq((1L, "the and of a"), (2L, "alpha beta"))
        .toDF("doc_id", "text")
      val got = TextAnalysis.rakeKeywords(d, "doc_id", "text").collect()
      assert(got.map(_.getAs[Long]("doc_id")).distinct.toSeq == Seq(2L))
      assert(got.head.getAs[String]("phrase") == "alpha beta")
    }
  }

  describe("integer DCT image codec") {
    it("scaled basis is near-orthonormal: T·Tᵗ ≈ 2^22·I within rounding slack") {
      val t = Multimodal.dctBasis
      val scale2 = 1L << (2 * 11)
      for (u <- 0 until 8; v <- 0 until 8) {
        val dot = (0 until 8).map(x => t(u * 8 + x) * t(v * 8 + x)).sum
        val expect = if (u == v) scale2 else 0L
        // 8 products of ±0.5-rounded entries: slack well under 0.5% of 2^22
        assert(math.abs(dot - expect) < scale2 / 200,
          s"basis row dot($u,$v) = $dot, expected ~$expect")
      }
    }
    it("a constant block survives quantization exactly at any quality") {
      // flat gray 160: all AC coefficients are (near) zero, DC is
      // preserved through quantize/dequantize up to the DC step
      val flat = Array.fill(64)(160)
      for (q <- Seq(50, 75, 100)) {
        val (qz, recon) = Multimodal.dct8x8RoundTrip(flat, q)
        assert(qz.drop(1).forall(_ == 0L), s"AC leakage at quality $q")
        val err = recon.zip(flat).map { case (a, b) => math.abs(a - b) }.max
        assert(err <= 3, s"flat-block error $err at quality $q")
      }
    }
    it("higher quality is never more lossy (SSE monotone) and Q=100 is near-exact") {
      val pixels = Array.tabulate(64)(i => (i * 37 + (i * i) % 91) % 256)
      def sse(q: Int): Long = {
        val (_, recon) = Multimodal.dct8x8RoundTrip(pixels, q)
        pixels.zip(recon).map { case (a, b) => val d = (a - b).toLong; d * d }.sum
      }
      val (s50, s75, s100) = (sse(50), sse(75), sse(100))
      assert(s50 >= s75 && s75 >= s100, s"SSE not monotone: $s50, $s75, $s100")
      val (_, r100) = Multimodal.dct8x8RoundTrip(pixels, 100)
      val max100 = pixels.zip(r100).map { case (a, b) => math.abs(a - b) }.max
      assert(max100 <= 2, s"Q=100 max error $max100 — only basis rounding should remain")
      assert(s50 > 0, "quality 50 on a busy block should actually be lossy")
    }
    it("quality table scaling matches the libjpeg integer formula endpoints") {
      assert(Multimodal.jpegQuantTable(50).toSeq == Multimodal.jpegLumaQuant.toSeq)
      assert(Multimodal.jpegQuantTable(100).forall(_ == 1))
      // Q=25 doubles the table (scale 200), clamped at 255
      assert(Multimodal.jpegQuantTable(25).toSeq ==
        Multimodal.jpegLumaQuant.map(b => math.min(255, b * 2)).toSeq)
    }
    it("round-half-away division is symmetric in sign") {
      assert(Multimodal.rdivHalfAway(7, 2) == 4 && Multimodal.rdivHalfAway(-7, 2) == -4)
      assert(Multimodal.rdivHalfAway(5, 10) == 1 && Multimodal.rdivHalfAway(-5, 10) == -1)
      assert(Multimodal.rdivHalfAway(4, 10) == 0 && Multimodal.rdivHalfAway(-4, 10) == 0)
    }
    it("imageDctFeatures drops non-64-byte payloads and keeps good ones") {
      val good = Array.tabulate[Byte](64)(i => (i * 3).toByte)
      val m = Seq((1L, good, 75), (2L, Array[Byte](1, 2, 3), 75))
        .toDF("media_id", "payload", "quality")
      val got = Multimodal.imageDctFeatures(m, "quality").collect()
      assert(got.length == 1 && got.head.getLong(0) == 1L)
      val (qz, recon) = Multimodal.dct8x8RoundTrip(
        good.map(_ & 0xff), 75)
      assert(got.head.getAs[Long]("dc_q") == qz(0))
      assert(got.head.getAs[Long]("recon_sum") == recon.map(_.toLong).sum)
    }
  }

  describe("TextAnalysis.zipfFit") {
    it("a geometric rank-frequency profile fits a negative slope") {
      val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++ Seq("d"))
        .mkString(" ")
      val df = Seq((1L, "en", text)).toDF("doc_id", "lang", "text")
      val r = TextAnalysis.zipfFit(df, "lang", "text", topR = 100).collect().head
      assert(r.getAs[Long]("n_terms") == 4L)
      assert(r.getAs[Double]("slope") < 0.0)
    }
    it("topR caps the fitted vocabulary") {
      val text = ('a' to 'z').map(_.toString).mkString(" ")
      val df = Seq((1L, "en", text)).toDF("doc_id", "lang", "text")
      val r = TextAnalysis.zipfFit(df, "lang", "text", topR = 10).collect().head
      assert(r.getAs[Long]("n_terms") == 10L)
    }
  }

  describe("TextAnalysis.jsDivergence") {
    it("identical distributions score zero; disjoint ones score high and tie") {
      val df = Seq(
        (1L, "sameA", "x y"), (2L, "sameB", "x y"),
        (3L, "onlyX", "x x"), (4L, "onlyY", "y y"))
        .toDF("doc_id", "source", "text")
      val same = TextAnalysis.jsDivergence(
        df.filter(col("source").startsWith("same")), "source", "text")
        .collect()
      same.foreach(r => assert(r.getAs[Double]("js_bits") == 0.0))
      val disj = TextAnalysis.jsDivergence(
        df.filter(!col("source").startsWith("same")), "source", "text")
        .collect().map(r => r.getAs[String]("grp") -> r.getAs[Double]("js_bits")).toMap
      assert(disj("onlyX") == disj("onlyY") && disj("onlyX") > 0.2)
    }
  }

  describe("TextAnalysis.rrfFuse") {
    it("fuses two reversed rankings into an exact tie broken by id") {
      val sysA = Seq((1L, 100L), (2L, 50L)).toDF("doc_id", "score")
      val sysB = Seq((1L, 7L), (2L, 9L)).toDF("doc_id", "score")
      val got = TextAnalysis.rrfFuse(Seq("a" -> sysA, "b" -> sysB),
        "doc_id", "score", kRrf = 60, k = 10).collect()
      assert(got.length == 2)
      val expected = 1000000000L / 61 + 1000000000L / 62
      got.foreach { r =>
        assert(r.getAs[Long]("rrf_score") == expected)
        assert(r.getAs[Long]("n_systems") == 2L)
        assert(r.getAs[Long]("best_rank") == 1L)
      }
      assert(got.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
    }
  }

  describe("Multimodal.wavelet53Features") {
    it("step=1 (no quantization) reconstructs exactly -- the reversibility law") {
      val xs = Seq(7, -3, 12, 0, -8, 5, 130, -127, 4, 4, 9, -1)
      val samples = xs.zipWithIndex.map { case (x, i) => (1L, i, x.toLong) }
        .toDF("media_id", "i", "x")
      val r = Multimodal.wavelet53Features(samples, step = 1).collect().head
      assert(r.getAs[Long]("max_err_even") == 0L)
      assert(r.getAs[Long]("max_err_odd") == 0L)
      assert(r.getAs[Long]("sse") == 0L)
      assert(r.getAs[Long]("n_samples") == xs.length.toLong)
    }
    it("a constant signal has a zero detail band and bounded lossy error") {
      val samples = (0 until 16).map(i => (1L, i, 1000L)).toDF("media_id", "i", "x")
      val r = Multimodal.wavelet53Features(samples, step = 16).collect().head
      assert(r.getAs[Long]("energy_d") == 0L)
      assert(r.getAs[Double]("compaction") == 1.0)
      assert(r.getAs[Long]("sse") == 0L)
    }
  }

  describe("TextAnalysis.sparseCosinePairs") {
    it("identical docs through shared rare tokens score cosine 1; df-1 tokens never pair") {
      val df = Seq((1L, "x y"), (2L, "x y"), (3L, "z w q"))
        .toDF("doc_id", "text")
      val got = TextAnalysis.sparseCosinePairs(df, "doc_id", "text",
        minDf = 2, maxDf = 50, k = 10).collect()
      assert(got.length == 1)
      val r = got.head
      assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
      assert(r.getAs[Long]("dot") == 2L && r.getAs[Long]("n_shared") == 2L)
      assert(r.getAs[Double]("cosine") == 1.0)
    }
    it("a stopword above maxDf generates no candidate pairs") {
      val df = Seq((1L, "the aa"), (2L, "the bb"), (3L, "the cc"))
        .toDF("doc_id", "text")
      val got = TextAnalysis.sparseCosinePairs(df, "doc_id", "text",
        minDf = 2, maxDf = 2, k = 10)
      assert(got.isEmpty)
    }
  }

  describe("TextAnalysis.tokenFertility") {
    it("computes exact chars-per-word and chars-per-subword ratios") {
      val df = Seq((1L, "en", "ab cd"), (2L, "en", "x1"), (3L, "de", "abc"))
        .toDF("doc_id", "lang", "text")
      val got = TextAnalysis.tokenFertility(df, "lang", "text")
        .collect().map(r => r.getAs[String]("lang") -> r).toMap
      val en = got("en")
      // chars 5+2, words 2+1, subwords ab/cd + x,1 = 2+2
      assert(en.getAs[Long]("n_chars") == 7L)
      assert(en.getAs[Long]("n_words") == 3L)
      assert(en.getAs[Long]("n_subwords") == 4L)
      assert(en.getAs[Double]("chars_per_word") == 2.3333)
      assert(en.getAs[Double]("chars_per_subword") == 1.75)
      assert(got("de").getAs[Long]("n_subwords") == 1L)
    }
  }

  describe("Multimodal.boxFilterFeatures") {
    def raster(f: (Long, Long) => Long) =
      (for (y <- 0L until 8L; x <- 0L until 8L) yield (1L, y, x, f(y, x)))
        .toDF("media_id", "y", "x", "v")

    it("a uniform raster has zero high-pass energy and the exact clamped box sums") {
      val got = Multimodal.boxFilterFeatures(raster((_, _) => 5L)).collect().head
      assert(got.getAs[Long]("n_px") == 64L)
      assert(got.getAs[Long]("sum_v") == 320L)
      // Σ clamped 3x3 areas on 8x8: 4 corners·4 + 24 edges·6 + 36 interior·9 = 484
      assert(got.getAs[Long]("sum_box") == 5L * 484L)
      assert(got.getAs[Long]("max_box") == 45L)
      assert(got.getAs[Long]("hp_energy") == 0L)
    }

    it("a single bright pixel's box sums match the 4-corner arithmetic by hand") {
      // v=1 only at (3,3): box_sum is 1 exactly for the 9 pixels whose
      // 3x3 window covers (3,3), else 0 — and hp at (3,3): v·9 − 1 = 8
      val got = Multimodal.boxFilterFeatures(
        raster((y, x) => if (y == 3 && x == 3) 1L else 0L)).collect().head
      assert(got.getAs[Long]("sum_v") == 1L)
      assert(got.getAs[Long]("sum_box") == 9L)
      assert(got.getAs[Long]("max_box") == 1L)
      // residuals: (3,3): 9·1−1 = 8 → 64; its 8 neighbours: 0·cnt−1 → 1 each
      assert(got.getAs[Long]("hp_energy") == 64L + 8L)
    }
  }

  describe("Multimodal.gradientHistogram") {
    def raster(f: (Long, Long) => Long) =
      (for (y <- 0L until 8L; x <- 0L until 8L) yield (1L, y, x, f(y, x)))
        .toDF("media_id", "y", "x", "v")

    it("a horizontal ramp is pure bin-0 with gx = 2·slope everywhere") {
      // v = 3x ⇒ central difference gx = 6, gy = 0 ⇒ octant 0, mag 6
      val got = Multimodal.gradientHistogram(raster((_, x) => 3L * x)).collect().head
      assert(got.getAs[Long]("n_px") == 36L) // 6×6 interior
      assert(got.getAs[Long]("edge_energy") == 36L * 6L)
      assert(got.getAs[Long]("b0") == 36L * 6L)
      (1 to 7).foreach(b => assert(got.getAs[Long](s"b$b") == 0L, s"b$b"))
      assert(got.getAs[Int]("dom_bin") == 0)
    }

    it("a vertical ramp votes bin 1; a falling vertical ramp votes bin 5") {
      val up = Multimodal.gradientHistogram(raster((y, _) => 3L * y)).collect().head
      assert(up.getAs[Long]("b1") == 36L * 6L && up.getAs[Int]("dom_bin") == 1)
      val down = Multimodal.gradientHistogram(raster((y, _) => 30L - 3L * y)).collect().head
      // gy = −6 < 0, gx = 0 ⇒ |gy| > |gx|, gy < 0, gx ≥ 0 ⇒ bin 6?  No:
      // gx = 0 ≥ 0 and the CASE's gy<0/gx≥0 leaf is bin 6
      assert(down.getAs[Long]("b6") == 36L * 6L && down.getAs[Int]("dom_bin") == 6)
    }

    it("a flat raster has zero energy and dom_bin falls to the first-bin tie rule") {
      val got = Multimodal.gradientHistogram(raster((_, _) => 9L)).collect().head
      assert(got.getAs[Long]("edge_energy") == 0L)
      assert(got.getAs[Int]("dom_bin") == 0) // all-zero tie → lowest index
    }

    it("a diagonal ramp ties |gx|=|gy| and the >= rule sends it to bin 0") {
      val got = Multimodal.gradientHistogram(raster((y, x) => 2L * (x + y))).collect().head
      assert(got.getAs[Long]("b0") == 36L * 8L) // mag = |4|+|4| = 8
      assert(got.getAs[Int]("dom_bin") == 0)
    }
  }

  describe("gopherRules") {
    def rules(text: String): org.apache.spark.sql.Row =
      TextAnalysis.gopherRules(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", minWords = 5).collect().head

    it("a clean document passes every rule") {
      val r = rules("the quick brown fox jumps over a lazy dog and it is fine")
      assert(r.getAs[String]("first_fail") == "kept")
      assert(r.getAs[Boolean]("keep"))
    }
    it("too-few words fails word_count first") {
      assert(rules("the cat sat").getAs[String]("first_fail") == "word_count")
    }
    it("degenerate word lengths fail word_len") {
      // 6 single-char words: mean length 1 < 3
      assert(rules("a b c d e f").getAs[String]("first_fail") == "word_len")
    }
    it("symbol soup fails symbol_ratio") {
      val r = rules("the cat ### and ### the dog ### sat ### here ### now ###")
      assert(!r.getAs[Boolean]("ok_symbol_ratio"))
      assert(r.getAs[String]("first_fail") == "symbol_ratio")
    }
    it("bullet-dominated lines fail bullets") {
      val lines = (1 to 10).map(i => s"- item number $i here").mkString("\n")
      val r = rules(lines)
      assert(r.getAs[Int]("n_lines") == 10)
      assert(r.getAs[Int]("n_bullet_lines") == 10)
      assert(r.getAs[String]("first_fail") == "bullets")
    }
    it("ellipsis-heavy lines fail ellipsis") {
      val lines = (1 to 10).map(i =>
        if (i <= 4) s"and the part $i trails off..." else s"the part $i is ok")
        .mkString("\n")
      assert(rules(lines).getAs[String]("first_fail") == "ellipsis")
    }
    it("numeric soup fails alpha") {
      val r = rules("the sum of 11 22 33 44 55 66 77 88 99 00 12 34 is big")
      assert(!r.getAs[Boolean]("ok_alpha"))
    }
    it("a stopword-free document fails stopwords") {
      assert(rules("cats dogs birds fish mice lions tigers bears wolves foxes")
        .getAs[String]("first_fail") == "stopwords")
    }
  }

  describe("goertzelPower") {
    def pcm(xs: Seq[Int]): Array[Byte] = {
      val b = new Array[Byte](xs.length * 2)
      xs.zipWithIndex.foreach { case (x, i) =>
        b(2 * i) = (x & 0xff).toByte
        b(2 * i + 1) = ((x >> 8) & 0xff).toByte
      }
      b
    }

    it("a pure tone at bin 8 concentrates power there") {
      val tone = (0 until 64).map(i =>
        math.round(10000.0 * math.cos(2.0 * math.Pi * 8 * i / 64)).toInt)
      val media = Seq((1L, pcm(tone))).toDF("media_id", "payload")
      val p = Multimodal.goertzelPower(media).collect()
        .map(r => r.getAs[Int]("bin_k") -> r.getAs[Long]("power")).toMap
      assert(p(8) > 50L * math.max(1L, p.filter(_._1 != 8).values.max))
    }
    it("silence yields zero power in every bin") {
      val media = Seq((1L, pcm(Seq.fill(64)(0)))).toDF("media_id", "payload")
      assert(Multimodal.goertzelPower(media).collect()
        .forall(_.getAs[Long]("power") == 0L))
    }
    it("a short payload reports its true sample count") {
      val media = Seq((1L, pcm(Seq(100, -100, 50)))).toDF("media_id", "payload")
      val rows = Multimodal.goertzelPower(media).collect()
      assert(rows.forall(_.getAs[Int]("n_samples") == 3))
      assert(rows.length == 5) // all bins still emitted
    }
  }
}
