package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funspec.AnyFunSpec
import graft.functions.Funcs
import graft.plans.MinHashSigOps

/** Generated-input properties for the determinism layer: the JVM
  * helpers behind the native expressions must agree with the SQL
  * expression forms on arbitrary input (not just corpus data), and
  * the fixed-point money path must recover decimals exactly. */
class PropertySpec extends AnyFunSpec {
  import SharedSpark.spark
  import spark.implicits._

  private def sampled[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  describe("WAV container: encode∘parse identity on arbitrary PCM") {
    it("recovers rate/channels/data position for any payload and sample rate") {
      import graft.operators.Multimodal
      val cases = sampled(for {
        n    <- Gen.choose(0, 512)
        body <- Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
        rate <- Gen.choose(1, 192000)
        ch   <- Gen.choose(1, 8)
      } yield (body.toArray, rate, ch), 200)
      cases.foreach { case (pcm, rate, ch) =>
        val wav = Multimodal.wavHeader(pcm.length, rate, ch) ++ pcm
        val w = Multimodal.parseWav(wav)
        assert(w.isDefined, s"parse failed for n=${pcm.length} rate=$rate ch=$ch")
        assert(w.get.sampleRate == rate && w.get.channels == ch)
        assert(w.get.dataOffset == 44 && w.get.dataLen == pcm.length)
        assert(java.util.Arrays.equals(
          wav.slice(w.get.dataOffset, w.get.dataOffset + w.get.dataLen), pcm))
      }
      // every strict prefix of a valid header must fail cleanly, not throw
      val full = Multimodal.wavHeader(4, 8000, 1) ++ Array[Byte](1, 2, 3, 4)
      (0 until full.length).foreach { cut =>
        assert(Multimodal.parseWav(full.take(cut)).isEmpty)
      }
    }
  }

  describe("AVI container: encode∘parse identity on arbitrary rasters") {
    import graft.operators.Multimodal

    /** Splice a JUNK chunk immediately after the `movi` list type,
      * patching the enclosing LIST and RIFF sizes — the shape a real
      * muxer's padding/index chunks give the walk. */
    def withJunkInMovi(avi: Array[Byte], junkLen: Int): Array[Byte] = {
      val moviAt = avi.indexOfSlice("movi".getBytes("US-ASCII"))
      assert(moviAt > 0, "movi list not found")
      // RIFF pads odd chunk bodies to even length (size field stays odd)
      val junk = java.nio.ByteBuffer.allocate(8 + junkLen + (junkLen & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put("JUNK".getBytes("US-ASCII")).putInt(junkLen)
        .put(Array.fill[Byte](junkLen)(0x5a)).array()
      val out = avi.take(moviAt + 4) ++ junk ++ avi.drop(moviAt + 4)
      def patchLE(b: Array[Byte], off: Int, delta: Int): Unit = {
        val bb = java.nio.ByteBuffer.wrap(b, off, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val v = bb.getInt(off)
        bb.putInt(off, v + delta)
      }
      patchLE(out, 4, junk.length)          // RIFF size
      patchLE(out, moviAt - 4, junk.length) // LIST movi size
      out
    }

    it("recovers dims/fps/frames for random sizes, frame counts and junk chunks") {
      val cases = sampled(for {
        w      <- Gen.choose(1, 16)
        h      <- Gen.choose(1, 16)
        n      <- Gen.choose(0, 8)
        fps    <- Gen.choose(1, 60)
        frames <- Gen.listOfN(n,
          Gen.listOfN(w * h, Gen.choose(0, 255).map(_.toByte)).map(_.toArray))
        junk   <- Gen.option(Gen.choose(0, 64))
      } yield (w, h, fps, frames.toArray, junk), 120)
      cases.foreach { case (w, h, fps, frames, junk) =>
        val base = Multimodal.encodeAvi(frames, w, h, fps)
        val avi = junk.map(withJunkInMovi(base, _)).getOrElse(base)
        val parsed = Multimodal.parseAvi(avi)
        assert(parsed.isDefined, s"parse failed w=$w h=$h n=${frames.length} fps=$fps junk=$junk")
        val info = parsed.get
        assert(info.width == w && info.height == h && info.fps == fps,
          s"header mismatch: got (${info.width},${info.height},${info.fps})")
        assert(info.nFrames == frames.length && info.frames.length == frames.length)
        info.frames.zip(frames).foreach { case ((off, len), expect) =>
          assert(len == expect.length)
          assert(java.util.Arrays.equals(avi.slice(off, off + len), expect),
            "frame payload corrupted through the container")
        }
      }
    }

    it("every strict prefix of a valid container fails cleanly, not with a throw") {
      val frames = Array(Array.tabulate[Byte](15)(i => (i * 7).toByte)) // odd size: pad path
      val avi = Multimodal.encodeAvi(frames, 5, 3, 30)
      (0 until avi.length).foreach { cut =>
        assert(Multimodal.parseAvi(avi.take(cut)).isEmpty, s"prefix $cut parsed")
      }
    }
  }

  describe("audio frame contracts against a plain-loop reference") {
    import graft.operators.Multimodal

    /** Little-endian int16 samples of `b`; a trailing odd byte is ignored. */
    def int16s(b: Array[Byte]): Array[Int] = {
      val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Array.fill(b.length / 2)(bb.getShort().toInt)
    }
    /** (frame_idx, n_samples, Σx², peak |x|) per `fs`-sample window, trailing partial kept. */
    def energyFrames(xs: Array[Int], fs: Int): Seq[(Int, Int, Long, Int)] = {
      val out = Seq.newBuilder[(Int, Int, Long, Int)]
      var f = 0
      while (f * fs < xs.length) {
        val end = math.min(f * fs + fs, xs.length)
        var energy = 0L
        var peak = 0
        var i = f * fs
        while (i < end) {
          energy += xs(i).toLong * xs(i)
          peak = math.max(peak, math.abs(xs(i)))
          i += 1
        }
        out += ((f, end - f * fs, energy, peak))
        f += 1
      }
      out.result()
    }
    /** (frame_idx, n_samples, crossings, Σ|x|) per full `fs`-sample frame only. */
    def zcrRef(xs: Array[Int], fs: Int): Seq[(Int, Int, Int, Long)] =
      (0 until xs.length / fs).map { f =>
        var crossings = 0
        var sumAbs = 0L
        var i = f * fs
        while (i < f * fs + fs) {
          if (i > f * fs && (xs(i) >= 0) != (xs(i - 1) >= 0)) crossings += 1
          sumAbs += math.abs(xs(i))
          i += 1
        }
        (f, fs, crossings, sumAbs)
      }
    /** (frame_idx, n_out, energy, checksum, peak) of truncating pair averages per
      * `fs`-sample frame (trailing partial frame kept, its odd last sample dropped). */
    def resampleRef(xs: Array[Int], fs: Int): Seq[(Int, Int, Long, Long, Int)] =
      (0 until (xs.length + fs - 1) / fs).map { f =>
        val end = math.min(f * fs + fs, xs.length)
        var k = 0
        var energy = 0L
        var checksum = 0L
        var peak = 0
        var i = f * fs
        while (i + 1 < end) {
          val o = (xs(i) + xs(i + 1)) / 2
          energy += o.toLong * o
          checksum += o.toLong * (k + 1)
          peak = math.max(peak, math.abs(o))
          k += 1
          i += 2
        }
        (f, k, energy, checksum, peak)
      }

    it("pcm/wav (PCM16, μ-law, ADPCM) frames, zcr full frames and resample pairs match") {
      val byteGen = Gen.choose(-128, 127).map(_.toByte)
      val frameSizes = sampled(Gen.choose(1, 32), 8).distinct
      frameSizes.foreach { fs =>
        // random lengths plus the edges: empty, one byte, one frame ± an odd byte
        val lengths = sampled(Gen.choose(0, 600), 6) ++ Seq(0, 1, 2 * fs - 1, 2 * fs + 1)
        val payloads = lengths.map(n => sampled(byteGen, n).toArray)
        val media = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p, 8000 + i) }
          .toDF("media_id", "payload", "rate")
        def byId[T](rows: Array[org.apache.spark.sql.Row])(f: org.apache.spark.sql.Row => T)
            : Map[Long, Seq[T]] =
          rows.toSeq.groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(f) }
        def check[T](what: String, got: Map[Long, Seq[T]], ref: Array[Byte] => Seq[T]): Unit =
          payloads.zipWithIndex.foreach { case (p, i) =>
            assert(got.getOrElse(i.toLong, Seq.empty).sortBy(_.toString) ==
              ref(p).sortBy(_.toString), s"$what: fs=$fs len=${p.length}")
          }

        val pcm = byId(Multimodal.pcmFrameFeatures(media, fs).collect())(r =>
          (r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
        check("pcmFrameFeatures", pcm, p => energyFrames(int16s(p), fs))

        def wav(format: Int) =
          byId(Multimodal.wavFrameFeatures(
            Multimodal.toWav(media, "rate", audioFormat = format), fs).collect()) { r =>
            assert(r.getInt(1) == 8000 + r.getLong(0) && r.getInt(2) == 1)
            (r.getInt(3), r.getInt(4), r.getLong(5), r.getInt(6))
          }
        check("wav PCM16", wav(Multimodal.WavPcm16), p => energyFrames(int16s(p), fs))
        check("wav μ-law", wav(Multimodal.WavUlaw),
          p => energyFrames(p.map(Multimodal.ulawToLinear), fs))
        check("wav ADPCM", wav(Multimodal.WavImaAdpcm),
          p => energyFrames(Multimodal.imaAdpcmDecode(p, 0, p.length), fs))

        val zcr = byId(Multimodal.zcrFrames(media, fs).collect())(r =>
          (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
        check("zcrFrames", zcr, p => zcrRef(int16s(p), fs))

        val even = fs + (fs & 1) // resamplePcm takes even frame sizes
        val rs = byId(Multimodal.resamplePcm(media, even).collect())(r =>
          (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getInt(5)))
        check("resamplePcm", rs, p => resampleRef(int16s(p), even))
      }
    }
  }

  describe("hash60: JVM helper vs SQL expression tree") {
    it("agrees on arbitrary strings including unicode and empties") {
      val strings = (sampled(Gen.asciiPrintableStr, 300) ++
        sampled(Gen.listOf(Gen.choose(32, 0x2FFF).map(_.toChar)).map(_.mkString), 300) ++
        Seq("", " ", "é中文", "a b c")).distinct
      val df = strings.toDF("s")
        .withColumn("sql_h", Funcs.hash60($"s"))
        .collect()
      df.foreach { row =>
        val s = row.getString(0)
        val jvm = MinHashSigOps.hash60(s.getBytes("UTF-8"))
        assert(row.getLong(1) == jvm, s"mismatch on ${s.take(40).toList}")
      }
    }
  }

  describe("tierSummary's closed-form tile assignment: the ntile law itself") {
    /** Reference ntile: first n % t tiles get ⌈n/t⌉ rows, rest ⌊n/t⌋. */
    def refNtile(n: Long, t: Int): Seq[Int] = {
      val base = n / t; val r = (n % t).toInt
      (0 until t).flatMap(i =>
        Seq.fill((base + (if (i < r) 1 else 0)).toInt)(i + 1))
    }
    /** The Profiling.tierSummary SQL CASE, evaluated in plain Scala. */
    def closedForm(rank: Long, n: Long, t: Int): Long = {
      val base = n / t; val r = n % t; val cut = r * (base + 1)
      if (rank <= cut) (rank + base) / (base + 1)
      else r + (rank - cut + base - 1) / base
    }
    it("matches reference ntile for every rank over many (n, tiles) shapes") {
      val shapes = for {
        t <- Seq(1, 2, 3, 7, 10, 16, 64)
        n <- Seq(0L, 1L, 2L, 5L, 9L, 10L, 11L, 63L, 64L, 65L, 99L, 100L,
          101L, 997L) ++ sampled(Gen.choose(1L, 5000L), 30)
      } yield (n, t)
      shapes.foreach { case (n, t) =>
        val want = refNtile(n, t)
        (1L to n).foreach { rank =>
          assert(closedForm(rank, n, t) == want((rank - 1).toInt),
            s"n=$n t=$t rank=$rank")
        }
      }
    }
  }

  describe("Dedup.duplicatedSpans: coverage bounds on generated corpora") {
    it("0 <= dup_tokens <= n_tokens, and an all-distinct corpus has zero coverage") {
      // random word docs over a tiny alphabet (forces shared grams) +
      // a disjoint-vocabulary corpus (forces zero coverage)
      val word = Gen.oneOf("aa", "bb", "cc", "dd")
      val doc = Gen.listOfN(20, word).map(_.mkString(" "))
      val shared = sampled(doc, 30).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val out = graft.operators.Dedup.duplicatedSpans(
        shared.toDF("doc_id", "text"), "doc_id", "text", k = 4)
      assert(out.filter($"dup_tokens" < 0 || $"dup_tokens" > $"n_tokens").isEmpty)
      assert(out.count() == 30)
      val distinctDocs = (0 until 10).map(i =>
        (i.toLong, (0 until 12).map(j => s"w${i}_$j").mkString(" ")))
      val zero = graft.operators.Dedup.duplicatedSpans(
        distinctDocs.toDF("doc_id", "text"), "doc_id", "text", k = 4)
      assert(zero.filter($"dup_tokens" =!= 0L).isEmpty)
    }
  }

  describe("Packing.chunkWithOverlap: exact tiling of the token range") {
    it("chunks start at 0, end at toks, stride uniformly, and cover every token") {
      import org.apache.spark.sql.functions._
      val cases = for {
        toks <- Seq(1L, 5L, 63L, 64L, 65L, 200L)
        (size, overlap) <- Seq((64, 0), (64, 16), (7, 3), (1, 0))
      } yield (toks, size, overlap)
      cases.foreach { case (toks, size, overlap) =>
        val spans = graft.operators.Packing
          .chunkWithOverlap(Seq((1L, toks)).toDF("doc_id", "n_tokens"),
            "doc_id", "n_tokens", size, overlap)
          .orderBy("chunk_idx")
          .select("tok_start", "tok_end").as[(Long, Long)].collect()
        assert(spans.head._1 == 0, s"case ($toks,$size,$overlap)")
        assert(spans.last._2 == toks, s"case ($toks,$size,$overlap)")
        // contiguous coverage: each next chunk starts inside (or at the
        // end of) the previous one — no token falls in a gap
        spans.sliding(2).foreach {
          case Array((_, e1), (s2, _)) =>
            assert(s2 <= e1 && s2 > e1 - size, s"case ($toks,$size,$overlap)")
          case _ =>
        }
        // every chunk except possibly the last is full-size
        spans.init.foreach { case (s, e) => assert(e - s == size) }
      }
    }
  }

  describe("Packing.contentDefinedChunks: CDC edit-stability") {
    it("a prefix insertion preserves every chunk after the first boundary") {
      import org.apache.spark.sql.functions._
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
      val edited = "INSERTED WORDS HERE " + base
      val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
      val chunks = graft.operators.Packing
        .contentDefinedChunks(docs, "doc_id", "text", divisor = 4)
        .select("doc_id", "chunk_text").as[(Long, String)].collect()
      val c1 = chunks.filter(_._1 == 1L).map(_._2).toSeq
      val c2 = chunks.filter(_._1 == 2L).map(_._2).toSeq
      // all original chunks except the first (which absorbed the edit
      // region up to the first content boundary) survive verbatim
      assert(c1.size >= 3, s"fixture needs several chunks, got $c1")
      assert(c1.tail.forall(c2.contains), s"lost chunks:\n$c1\nvs\n$c2")
      // coverage: concatenating chunks reconstructs each doc
      assert(c1.mkString(" ") == base && c2.mkString(" ") == edited)
    }
  }

  describe("Funcs.scaled: exact fixed-decimal recovery") {
    it("recovers the integer cents of any 2-decimal value in the long-range contract") {
      val cents = sampled(Gen.choose(-1000000000000L, 1000000000000L), 1000)
      val rows = cents.toDF("n")
        .withColumn("rec", Funcs.scaled($"n" / 100.0, 2))
        .filter($"rec" =!= $"n")
      assert(rows.isEmpty, rows.take(3).mkString(","))
    }
  }

  describe("DailyAnalytics moments device: momentSums + coMoment vs a BigInt reference") {
    it("exact sums and n·Σab − Σa·Σb on random panels, zero variance, one row and |y| = 10⁶") {
      import graft.operators.DailyAnalytics.{coMoment, momentSums}
      val value = Gen.choose(-1000000L, 1000000L)
      val random = sampled(for {
        rows <- Gen.choose(1, 20)
        xs   <- Gen.listOfN(rows, value)
        ys   <- Gen.listOfN(rows, value)
      } yield xs.zip(ys), 40)
      val edges = Seq(
        Seq.fill(7)((42L, 0L)) ++ Seq((42L, -5L)), // zero variance in x
        Seq((-999999L, 1000000L)),                   // one row
        Seq.tabulate(2500)(i => (1000000L, if (i % 2 == 0) 1000000L else -1000000L)),
        Seq.fill(2500)((-1000000L, 1000000L)))      // |y| = 10⁶ (100%) over 2,500 days
      val panels = (random ++ edges).zipWithIndex
      val df = panels.flatMap { case (rows, g) => rows.map { case (x, y) => (g, x, y) } }
        .toDF("g", "x", "y")
      val m = momentSums("n", "sx", "sy", "sxy", "sxx", "syy")()
      val co = Seq("xy" -> ("sxy", "sx", "sy"), "xx" -> ("sxx", "sx", "sx"),
        "yy" -> ("syy", "sy", "sy"))
      val got = df.groupBy("g").agg(m.head, m.tail: _*)
        .select(Seq($"g", $"n", $"sx", $"sy", $"sxy", $"sxx", $"syy") ++ co.flatMap {
          case (k, (ab, a, b)) => Seq(coMoment("n", ab, a, b).as(s"c$k"),
            Funcs.nullifZero(coMoment("n", ab, a, b)).as(s"z$k"))
        }: _*)
        .collect().map(r => r.getInt(0) -> r).toMap
      assert(got.size == panels.size)
      def big(v: Any): BigInt = v match {
        case d: java.math.BigDecimal => BigInt(d.toBigIntegerExact)
        case l: Long => BigInt(l)
      }
      panels.foreach { case (rows, g) =>
        val r = got(g)
        val (x, y) = (rows.map(p => BigInt(p._1)), rows.map(p => BigInt(p._2)))
        val n = BigInt(rows.size)
        val sums = Seq(x.sum, y.sum, x.zip(y).map(p => p._1 * p._2).sum,
          x.map(v => v * v).sum, y.map(v => v * v).sum)
        assert(r.getLong(1) == rows.size)
        assert((2 to 6).map(i => big(r.get(i))) == sums, s"group $g")
        val Seq(sx, sy, sxy, sxx, syy) = sums
        val want = Seq(n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy)
        want.zipWithIndex.foreach { case (w, k) =>
          assert(big(r.get(7 + 2 * k)) == w, s"group $g coMoment $k")
          assert(r.isNullAt(8 + 2 * k) == (w == 0), s"group $g nullifZero $k")
        }
      }
      // the edge panels hit the null and headroom cases they are there for
      val Seq(flat, one, alt, same) = edges.indices.map(i => got(random.size + i))
      assert(flat.isNullAt(10) && !flat.isNullAt(12)) // cxx zero, cyy not
      assert(one.isNullAt(8) && one.isNullAt(10) && one.isNullAt(12))
      assert(big(alt.get(6)) == BigInt(2500) * BigInt(10).pow(12))
      assert(big(alt.get(11)) == BigInt(2500) * BigInt(2500) * BigInt(10).pow(12))
      assert(same.isNullAt(12) && same.isNullAt(8))
    }
  }

  describe("Funcs.rd: idempotence and bounded error") {
    it("rd is idempotent and stays within a half-step of the input") {
      // NOTE deliberately not asserting r·10^4 is an exact binary
      // integer — a 4-decimal VALUE like -626975135.389 has no exact
      // double, which is precisely why cross-engine compares need the
      // same expression tree rather than decimal-ness of the result.
      val xs = sampled(Gen.choose(-1e9, 1e9), 1000)
      // error bound: the half-step 0.5·10⁻⁴ PLUS one ulp of the scaled
      // product (x·10⁴ ≈ 10¹³ has ulp ≈ 2·10⁻³, i.e. 2·10⁻⁷ in input
      // units) — the multiply itself rounds before the floor sees it
      val rows = xs.toDF("x")
        .withColumn("r", Funcs.rd($"x", 4))
        .withColumn("rr", Funcs.rd($"r", 4))
        .filter($"r" =!= $"rr" || abs($"r" - $"x") > 0.0000502)
      assert(rows.isEmpty, rows.take(3).mkString(","))
    }
  }

  describe("Layout.zValueN: Catalyst bit tree vs a JVM fold") {
    it("agrees on arbitrary 2- and 3-column keys, and nests dimensions correctly") {
      import graft.sources.Layout
      def ref(vals: Seq[Long], bits: Int): Long =
        vals.zipWithIndex.map { case (v, ci) =>
          (0 until bits).map(i => ((v >> i) & 1L) << (i * vals.size + ci)).reduce(_ | _)
        }.reduce(_ | _)
      val triples = sampled(for {
        a <- Gen.choose(0L, 0xFFFFFL); b <- Gen.choose(0L, 0xFFFFFL)
        c <- Gen.choose(0L, 0xFFFFFL)
      } yield (a, b, c), 500)
      val df = triples.toDF("a", "b", "c")
      val got2 = df.select(Layout.zValueN(Seq($"a", $"b"))).as[Long].collect()
      assert(got2.toSeq == triples.map(t => ref(Seq(t._1, t._2), 30)))
      val got3 = df.select(Layout.zValueN(Seq($"a", $"b", $"c"))).as[Long].collect()
      assert(got3.toSeq == triples.map(t => ref(Seq(t._1, t._2, t._3), 20)))
    }
  }

  describe("indicator invariants on generated bar panels") {
    import graft.operators.DailyAnalytics
    // random positive walks: 8 symbols x up-to-40 days, prices in cents
    lazy val genBars = {
      val panel = for {
        sym  <- Gen.choose(0, 7)
        days <- Gen.choose(2, 40)
      } yield (sym, days)
      sampled(panel, 8).distinctBy(_._1).flatMap { case (sym, days) =>
        val prices = Iterator.iterate(5000L)(p =>
          math.max(100L, p + Gen.choose(-500L, 500L).sample.getOrElse(0L)))
          .take(days).toSeq
        prices.zipWithIndex.map { case (p, i) =>
          val hi = p + 100; val lo = math.max(1L, p - 100)
          (s"S$sym", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
            p / 100.0, hi / 100.0, lo / 100.0, p / 100.0, 100L + i)
        }
      }.toDF("symbol", "trade_date", "open_price", "high_price",
             "low_price", "close_price", "volume")
    }

    it("stochastic %K stays in [0,100] and %D in the %K hull") {
      val st = DailyAnalytics.stochastic(genBars)
      assert(st.filter($"pct_k" < 0 || $"pct_k" > 100).isEmpty)
      assert(st.filter($"pct_d" < 0 || $"pct_d" > 100).isEmpty)
    }

    it("EMA lands inside the symbol's [min close, max close] envelope") {
      val env = genBars.groupBy("symbol")
        .agg(min($"close_price").as("lo"), max($"close_price").as("hi"))
      val bad = DailyAnalytics.emaClose(genBars).join(env, "symbol")
        // floor steps bias down by < 1 cent each; allow the scale grain
        .filter($"ema_12" < $"lo" - 0.01 || $"ema_12" > $"hi" + 0.01)
      assert(bad.isEmpty, bad.take(3).mkString(","))
    }

    it("|OBV| never exceeds the symbol's total volume") {
      val tot = genBars.groupBy("symbol").agg(sum($"volume").as("tv"))
      val bad = DailyAnalytics.obv(DailyAnalytics.dailyReturns(genBars))
        .join(tot, "symbol").filter(abs($"obv") > $"tv")
      assert(bad.isEmpty, bad.take(3).mkString(","))
    }

    it("max drawdown is never positive and never below -100%") {
      val dd = DailyAnalytics.maxDrawdown(DailyAnalytics.dailyReturns(genBars))
      assert(dd.filter($"max_drawdown_pct" > 0 || $"max_drawdown_pct" < -100).isEmpty)
    }

    it("weekly resample conserves volume and day counts exactly") {
      val wk = DailyAnalytics.resampleOhlc(genBars, "week")
      val (v1, d1) = wk.agg(sum($"volume"), sum($"n_days"))
        .as[(Long, Long)].head()
      val (v0, d0) = genBars.agg(sum($"volume"), count(lit(1)))
        .as[(Long, Long)].head()
      assert(v1 == v0 && d1 == d0)
      // channel sanity: open/close inside [low, high]
      assert(wk.filter($"open_price" > $"high_price" || $"open_price" < $"low_price" ||
        $"close_price" > $"high_price" || $"close_price" < $"low_price").isEmpty)
    }

    it("BH-FDR excludes zero-variance symbols from the test family") {
      // constant returns have no test statistic: before the fix their
      // NULL p sorted FIRST (rank 1, counted in m_tests), silently
      // loosening every step-up threshold
      val rows = (0 until 10).flatMap { d =>
        val date = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d))
        Seq(("FLAT", date, 0.5), // zero variance -> must be excluded
          ("VAR", date, if (d % 2 == 0) 1.0 else -0.4))
      }.toDF("symbol", "trade_date", "daily_return_pct")
      val out = DailyAnalytics.bhFdr(rows, alpha = 0.3, minDays = 2).collect()
      assert(out.map(_.getAs[String]("symbol")).toSet == Set("VAR"))
      assert(out.head.getAs[Long]("m_tests") == 1L)
    }

    it("BH-FDR rejections are exactly a prefix of the p-value order") {
      // the step-up procedure's defining invariant: rejected(r) ⇔
      // r ≤ k* where k* is the largest rank passing p ≤ α·r/m —
      // sorted by rank, the flags are all-true then all-false
      val rows = DailyAnalytics.bhFdr(
          DailyAnalytics.dailyReturns(genBars), alpha = 0.3, minDays = 2)
        .orderBy("p_rank")
        .select($"p_rank", $"p_value", $"rejected")
        .as[(Int, Double, Boolean)].collect()
      assert(rows.nonEmpty)
      val flags = rows.map(_._3)
      assert(!flags.sliding(2).exists { case Array(a, b) => !a && b; case _ => false },
        s"rejection set is not a rank prefix: ${flags.mkString(",")}")
      // and p-values are non-decreasing in rank (the order BH ranks by)
      assert(rows.map(_._2).sliding(2).forall {
        case Array(a, b) => a <= b; case _ => true })
    }
  }

  describe("round-12 statistics lane invariants") {
    import graft.operators.{Cohorts, TextAnalysis}

    /** Deterministic pseudo-random event stream: 30 users, 4 event
      * types, hour-grain arrivals spread over ~3 weeks. */
    lazy val genEvents = {
      val rows = (0 until 600).map { i =>
        val u = (i * 2654435761L % 30).toInt
        val typ = s"t${(i * 40503 % 4)}"
        val hour = (i * 7919 % 500).toInt
        (i.toLong, u.toLong, typ,
          java.sql.Timestamp.valueOf(
            java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusHours(hour)))
      }
      rows.toDF("event_id", "user_id", "event_type", "event_time")
    }

    it("Kaplan-Meier survival is monotone non-increasing in time") {
      val km = Cohorts.kaplanMeier(genEvents).orderBy("t_hours")
        .select($"t_hours", $"survival").as[(Long, Double)].collect()
      assert(km.nonEmpty)
      assert(km.map(_._2).sliding(2).forall {
        case Array(a, b) => b <= a; case _ => true },
        s"survival increased: ${km.mkString(",")}")
      assert(km.forall { case (_, s) => s >= 0.0 && s <= 1.0 })
    }

    it("Markov transition rows are exact count shares that sum to 1") {
      val tm = Cohorts.markovTransitions(genEvents)
      // exact invariant: per-cur bigram counts sum to the row total
      val badN = tm.groupBy("cur")
        .agg(sum($"n").as("sn"), max($"n_cur").as("nc"), min($"n_cur").as("nc2"))
        .filter($"sn" =!= $"nc" || $"nc" =!= $"nc2")
      assert(badN.isEmpty, badN.take(3).mkString(","))
      // rounded probabilities sum to 1 within the rd(4) grain per row
      val sums = tm.groupBy("cur")
        .agg(sum($"p").as("sp"), count(lit(1)).as("k"))
        .as[(String, Double, Long)].collect()
      assert(sums.nonEmpty)
      sums.foreach { case (cur, sp, k) =>
        assert(math.abs(sp - 1.0) <= k * 5e-5 + 1e-9,
          s"P(.|$cur) sums to $sp over $k rows") }
    }

    it("naive Bayes posteriors are row-order and partitioning stable") {
      val docs = (0 until 120).map { i =>
        val lang = s"L${i % 3}"
        // language-skewed token mix from a tiny shared vocab
        val toks = (0 until 12).map(j => s"w${(i * 31 + j * 7) % 5 + (i % 3) * 4}")
        (i.toLong, toks.mkString(" "), lang)
      }.toDF("doc_id", "text", "lang")
      val base = TextAnalysis.naiveBayesLang(docs)
        .orderBy("doc_id").collect().toSeq
      val shuffled = TextAnalysis.naiveBayesLang(
          docs.orderBy(hash($"doc_id", lit(17))).repartition(7))
        .orderBy("doc_id").collect().toSeq
      assert(base.nonEmpty && base == shuffled,
        "naive Bayes output changed under input permutation/repartition")
    }

    it("SCC output is a partition whose group label is the min member") {
      import graft.operators.Graph
      // random planted instance: one directed cycle (the only SCC,
      // radius ≤ 4 < rounds) + acyclic forward tail edges off it
      val cases = sampled(for {
        m    <- Gen.choose(2, 5)            // cycle size
        tail <- Gen.choose(0, 6)            // acyclic tail length
        skip <- Gen.choose(1, 3)            // extra forward (acyclic) chords
      } yield (m, tail, skip), 12)
      cases.foreach { case (m, tail, skip) =>
        val cycle = (0 until m).map(i => (i.toLong, ((i + 1) % m).toLong))
        val chain = (0 until tail).map(i => ((m + i - 1).max(m - 1).toLong, (m + i).toLong))
        val chords = (0 until tail - skip).map(i => ((m + i).toLong, (m + i + skip).toLong))
        val edges = (cycle ++ chain ++ chords).toDF("src", "dst")
        val out = Graph.stronglyConnected(edges, "src", "dst", rounds = 6)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val nodes = (cycle ++ chain ++ chords).flatMap(e => Seq(e._1, e._2)).distinct
        // partition: every node labeled exactly once
        assert(out.map(_._1).sorted.toSeq == nodes.sorted.toSeq,
          s"not a partition (m=$m tail=$tail skip=$skip)")
        val groups = out.groupBy(_._2).map { case (id, ms) => id -> ms.map(_._1).toSet }
        // group label = min member, label is itself a member
        groups.foreach { case (id, ms) =>
          assert(ms.contains(id) && id == ms.min,
            s"scc_id $id not min-member of $ms (m=$m tail=$tail skip=$skip)")
        }
        // the planted cycle is the unique non-singleton component
        assert(groups(0L) == (0L until m).toSet,
          s"planted cycle not recovered (m=$m tail=$tail skip=$skip)")
        assert(groups.forall { case (id, ms) => id == 0L || ms.size == 1 },
          s"spurious non-singleton SCC (m=$m tail=$tail skip=$skip)")
      }
    }

    it("association rules: bounded confidence, symmetric rule set, symmetric lift") {
      import graft.operators.Enrichment
      val rows = sampled(for {
        oid  <- Gen.choose(0L, 19L)
        item <- Gen.choose(0L, 7L)
      } yield (oid, item), 300)
      val li = rows.toDF("l_orderkey", "l_partkey")
      val rules = Enrichment.associationRules(li)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
        .toMap
      assert(rules.nonEmpty, "generator produced no co-purchase pairs")
      rules.foreach { case ((a, b), (nab, nante, ncons, conf, lift)) =>
        assert(nab <= math.min(nante, ncons), s"support bound violated for ($a,$b)")
        assert(conf > 0.0 && conf <= 1.0, s"confidence out of (0,1] for ($a,$b): $conf")
        val rev = rules.get((b, a))
        assert(rev.isDefined, s"rule ($a,$b) lacks its reverse")
        // lift is symmetric in (a,b); both sides round through rd(4)
        assert(math.abs(lift - rev.get._5) <= 2e-4,
          s"lift asymmetry for ($a,$b): $lift vs ${rev.get._5}")
      }
    }

    it("personalized PageRank conserves bounded non-negative mass on the seeds' graph") {
      import graft.operators.Graph
      val scale = 1000000000000L
      val cases = sampled(for {
        n     <- Gen.choose(4, 12)
        extra <- Gen.choose(0, 10)
      } yield (n, extra), 8)
      cases.foreach { case (n, extra) =>
        val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
        val chords = (0 until extra).map(i =>
          ((i * 7 % n).toLong, ((i * 11 + 3) % n).toLong))
        val edges = (ring ++ chords).toDF("src", "dst")
        val seeds = Seq(0L, (n / 2).toLong).toDF("id")
        val ranks = Graph.personalizedPageRank(edges, "src", "dst", seeds, iters = 3)
          .collect().map(_.getLong(1))
        assert(ranks.forall(_ >= 0L), s"negative rank (n=$n extra=$extra)")
        // integer div truncation + dangling loss only ever REMOVE mass
        assert(ranks.sum <= scale, s"mass grew past scale (n=$n extra=$extra)")
      }
    }
  }

  describe("round-13 recursive-filter invariants") {
    import graft.operators.DailyAnalytics

    def barsOf(closesCents: Seq[Long]): org.apache.spark.sql.DataFrame =
      closesCents.zipWithIndex.map { case (c, i) =>
        ("S0", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          c / 100.0)
      }.toDF("symbol", "trade_date", "close_price")

    def returnsOf(pcts: Seq[Double]): org.apache.spark.sql.DataFrame =
      pcts.zipWithIndex.map { case (r, i) =>
        ("S0", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), r)
      }.toDF("symbol", "trade_date", "daily_return_pct")

    it("GARCH variance is strictly positive, exact at the fixpoint, and mean-reverts to omega/(1-alpha-beta)") {
      // fixpoint: constant squared returns make every step
      // (2vbar + 6q + 92v) div 100 = v exactly, so garch == long-run
      val flat = DailyAnalytics.garchFilter(returnsOf(Seq.fill(40)(1.25)))
        .select($"long_run_vol_pct", $"garch_vol_pct").as[(Double, Double)].head()
      assert(flat._1 == flat._2, s"constant series must sit at the fixpoint: $flat")
      // mean reversion: one early shock, long constant tail — the
      // 0.92-decay leaves < 0.92^200 of the shock, so v converges to
      // the filter's fixpoint for tail level c: v* = (omega + alpha c)
      // / (1 - beta) = (2 vbar + 6 c)/8 in the scaled-integer units
      // (equals vbar itself exactly when c = vbar — the flat case above)
      val shocked = DailyAnalytics.garchFilter(
        returnsOf(8.0 +: Seq.fill(200)(1.0)))
        .select($"garch_vol_pct").as[Double].head()
      assert(shocked > 0.0)
      val qs = 640000L +: Seq.fill(200)(10000L) // scale-2 squared returns
      val vbar = qs.sum / qs.length
      val vStar = (2 * vbar + 6 * 10000L) / 8
      val wantVol = math.sqrt(vStar.toDouble) / 100.0
      assert(math.abs(shocked - wantVol) < 0.01,
        s"did not revert to the fixpoint: got $shocked want $wantVol")
      // positivity on an arbitrary generated series
      val gen = sampled(Gen.choose(-300, 300), 60).map(_ / 100.0)
      val anyV = DailyAnalytics.garchFilter(returnsOf(gen))
        .select($"garch_vol_pct").as[Double].head()
      assert(anyV >= 0.0)
    }

    it("Holt is exact on a noiseless linear ramp: level = last close, trend = slope, MAE = 0") {
      val a = 10000L; val b = 25L // 100.00 start, +0.25/day, exact cents
      val n = 40
      val row = DailyAnalytics.holtLinear(barsOf((0 until n).map(i => a + b * i)))
        .select($"level", $"trend_per_day", $"forecast_5d", $"one_step_mae")
        .as[(Double, Double, Double, Double)].head()
      val last = (a + b * (n - 1)) / 100.0
      assert(row._1 == last, s"level drifted off the ramp: $row")
      assert(row._2 == b / 100.0, s"trend != slope: $row")
      assert(row._3 == last + 5 * b / 100.0, s"5d forecast != last + 5b: $row")
      assert(row._4 == 0.0, s"nonzero one-step error on a perfect ramp: $row")
    }

    it("OU half-life = ln2/theta on a noiseless AR(1) decay") {
      // y_t - mu = phi (y_{t-1} - mu): every (y_{t-1}, dy) point sits on
      // the line dy = gamma (y - mu), so the DF OLS recovers gamma = phi-1
      // exactly up to the cent grain; half-life = ln 2 / -ln(phi)
      val phi = 0.9; val mu = 10000.0; val dev0 = 5000.0
      val closes = (0 until 80).map(t => math.rint(mu + dev0 * math.pow(phi, t)).toLong)
      val gammaRow = DailyAnalytics.dickeyFuller(barsOf(closes))
        .select($"gamma").as[Double].head()
      assert(math.abs(gammaRow - (phi - 1.0)) < 0.005, s"gamma off: $gammaRow")
      val halfLife = -math.log(2.0) / math.log1p(gammaRow)
      val want = -math.log(2.0) / math.log(phi)
      assert(math.abs(halfLife - want) < 0.35, s"half-life $halfLife != $want")
    }

    it("SAX letters respect breakpoint order: a monotone series spells a sorted word") {
      val closes = (0 until 32).map(i => 5000L + 100L * i)
      val word = DailyAnalytics.saxWords(barsOf(closes), segments = 8, alphabet = 4)
        .select($"sax_word").as[String].head()
      assert(word == "aabbccdd", s"monotone ramp must spell aabbccdd, got $word")
      // and on any generated series the word only uses the alphabet,
      // one letter per segment
      val gen = sampled(Gen.choose(1000L, 9000L), 32)
      val w2 = DailyAnalytics.saxWords(barsOf(gen), segments = 8, alphabet = 4)
        .select($"sax_word").as[String].head()
      assert(w2.length == 8 && w2.forall(c => c >= 'a' && c <= 'd'), w2)
    }
  }

  describe("round-14 operator invariants on generated inputs") {
    import graft.operators.{Cohorts, Multimodal, TickAnalytics}

    def rasters(n: Int): org.apache.spark.sql.DataFrame = {
      val vs = sampled(Gen.choose(0L, 255L), n * 64)
      (0 until n).flatMap { m =>
        for { y <- 0 until 8; x <- 0 until 8 }
          yield (m.toLong, y.toLong, x.toLong, vs(m * 64 + y * 8 + x))
      }.toDF("media_id", "y", "x", "v")
    }

    it("otsu returns THE argmax split: no other candidate beats it") {
      val px = rasters(10)
      val out = Multimodal.otsuThreshold(px).collect()
        .map(r => r.getAs[Long]("media_id") ->
          (r.getAs[Long]("thr_bin"), r.getAs[Double]("between_var"))).toMap
      val pixels = px.collect()
        .groupBy(_.getAs[Long]("media_id"))
        .view.mapValues(_.map(_.getAs[Long]("v")).toSeq).toMap
      pixels.foreach { case (m, vs) =>
        val byBin = vs.groupBy(_ / 16).view
          .mapValues(g => (g.size.toLong, g.sum)).toMap
        val s = vs.sum
        val cands = (0L to 14L).flatMap { t =>
          val (w0, s0) = (0L to t).foldLeft((0L, 0L)) { case ((w, ss), b) =>
            byBin.get(b).map(c => (w + c._1, ss + c._2)).getOrElse((w, ss))
          }
          if (w0 > 0 && w0 < 64) {
            val num = s0 * 64 - s * w0
            Some((num.toDouble * num) / (w0 * (64 - w0)).toDouble / 4096.0)
          } else None
        }
        assert(out(m)._2 >= math.floor(cands.max * 1e4) / 1e4 - 1e-4,
          s"media $m: returned ${out(m)} vs best ${cands.max}")
      }
    }

    it("morphology nests: erosion <= foreground <= dilation on the interior") {
      Multimodal.morphology3x3(rasters(10)).collect().foreach { r =>
        val (fg, er, di) = (r.getAs[Long]("n_fg"),
          r.getAs[Long]("n_erode"), r.getAs[Long]("n_dilate"))
        assert(er <= fg && fg <= di,
          s"nesting violated: erode=$er fg=$fg dilate=$di")
        assert(r.getAs[Long]("gradient_px") == di - er)
      }
    }

    it("vpin is a [0,1] mean of bucket imbalances with full buckets only") {
      val steps = sampled(Gen.choose(-3, 3), 5 * 300)
      val rows = (0 until 5).flatMap { s =>
        var p = 500L
        (0 until 300).map { i =>
          p = math.max(1L, p + steps(s * 300 + i))
          (s"S$s", (i + 1).toLong, p / 1.0)
        }
      }
      val df = rows.toDF("symbol", "event_id", "price")
        .withColumn("ts", expr("timestamp_seconds(event_id)"))
      TickAnalytics.vpin(df).collect().foreach { r =>
        val v = r.getAs[Double]("vpin")
        assert(v >= 0.0 && v <= 1.0, s"vpin out of range: $v")
        assert(r.getAs[Long]("n_buckets") == 6L) // 300 ticks → 6 full buckets
        assert(r.getAs[Long]("max_imbalance") <= 50L)
      }
    }

    it("entropy-rate rows: pi sums to 1 and every row entropy <= log2(branching)") {
      val types = sampled(Gen.oneOf("a", "b", "c", "d"), 400)
      val rows = types.zipWithIndex.map { case (t, i) =>
        ((i % 8).toLong, i.toLong, t)
      }
      val df = rows.toDF("user_id", "event_id", "event_type")
        .withColumn("event_time", expr("timestamp_seconds(event_id)"))
      val out = Cohorts.entropyRate(df).collect()
      val piSum = out.map(_.getAs[Double]("pi")).sum
      assert(math.abs(piSum - 1.0) < 1e-4, s"pi sums to $piSum")
      out.foreach { r =>
        val hMax = math.log(r.getAs[Long]("n_next_states").toDouble) / math.log(2.0)
        assert(r.getAs[Double]("h_bits") <= hMax + 1e-6,
          s"row entropy ${r.getAs[Double]("h_bits")} exceeds log2(k)=$hMax")
        assert(r.getAs[Double]("rate_contrib_bits") <=
          r.getAs[Double]("pi") * hMax + 1e-4)
      }
    }

    it("adx is 0 on a flat series and within [0, 100] on any series") {
      import graft.operators.DailyAnalytics
      def barsHL(hls: Seq[(Long, Long)]) = hls.zipWithIndex.map { case ((h, l), i) =>
        ("S0", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          h / 100.0, l / 100.0)
      }.toDF("symbol", "trade_date", "high_price", "low_price")
      // flat highs/lows: every directional movement is 0, so both
      // smoothed sides, DX, and ADX are exactly 0 (dx_last NULLs on
      // the 0/0 guard)
      val flat = DailyAnalytics.adxFilter(
        barsHL(Seq.fill(35)((10100L, 9900L)))).collect().head
      assert(flat.getAs[Long]("smoothed_dm_plus") == 0L)
      assert(flat.getAs[Long]("smoothed_dm_minus") == 0L)
      assert(flat.isNullAt(flat.fieldIndex("dx_last")))
      assert(flat.getAs[Double]("adx") == 0.0)
      // generated walk: both DI sides non-negative, DX and ADX bounded
      // by construction (|S+ - S-| <= S+ + S-; ADX is a mean of DX)
      val gen = sampled(Gen.choose(9000L, 11000L), 40)
      val row = DailyAnalytics.adxFilter(
        barsHL(gen.map(m => (m + 50L, m - 50L)))).collect().head
      assert(row.getAs[Long]("smoothed_dm_plus") >= 0L)
      assert(row.getAs[Long]("smoothed_dm_minus") >= 0L)
      val dx = if (row.isNullAt(row.fieldIndex("dx_last"))) 0.0
        else row.getAs[Double]("dx_last")
      assert(dx >= 0.0 && dx <= 100.0, s"dx_last $dx outside [0,100]")
      val adx = row.getAs[Double]("adx")
      assert(adx >= 0.0 && adx <= 100.0, s"adx $adx outside [0,100]")
    }

    it("kpss statistic is non-negative and a level-stationary series clears the 5% bar") {
      import graft.operators.DailyAnalytics
      def returnsOf(pcts: Seq[Double]) = pcts.zipWithIndex.map { case (r, i) =>
        ("S0", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), r)
      }.toDF("symbol", "trade_date", "daily_return_pct")
      // alternating mean-zero returns: partial sums stay bounded, so
      // eta is far below the 0.463 level-stationarity critical value
      val alt = DailyAnalytics.kpss(
        returnsOf((0 until 48).map(i => if (i % 2 == 0) 0.5 else -0.5)))
        .collect().head
      assert(alt.getAs[Double]("kpss_stat") >= 0.0)
      assert(alt.getAs[Double]("kpss_stat") < 0.463)
      assert(alt.getAs[Boolean]("stationary"))
      // generated returns: eta = sum of squares over a Bartlett
      // long-run variance — never negative
      val gen = sampled(Gen.choose(-200, 200), 40).map(_ / 100.0)
      val row = DailyAnalytics.kpss(returnsOf(gen)).collect().head
      if (!row.isNullAt(row.fieldIndex("kpss_stat")))
        assert(row.getAs[Double]("kpss_stat") >= 0.0)
    }

    it("famaMacbeth with a single cross-section equals the one-day OLS slope") {
      import graft.operators.DailyAnalytics
      // 12 symbols x 21 days; symbol s returns a constant c_s for the
      // 20 lookback days and 2*c_s on day 21 — so day 21 is the ONLY
      // full-lookback cross-section (d = 1) and it satisfies
      // y = x / 10 exactly: gamma_mean must be the perfect-fit slope
      val rows = for {
        s <- 0 until 12
        d <- 0 until 21
      } yield {
        val c = (s + 1) * 0.05
        (s"S$s", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)),
          if (d < 20) c else 2 * c)
      }
      val out = DailyAnalytics.famaMacbeth(
        rows.toDF("symbol", "trade_date", "daily_return_pct")).collect().head
      assert(out.getAs[Long]("n_days") == 1L, s"expected one cross-section: $out")
      assert(out.getAs[Double]("gamma_mean") == 0.1, s"slope off: $out")
      assert(out.getAs[Double]("pct_days_positive") == 1.0)
    }

    it("kyleLambda sign follows the flow-return association") {
      import graft.operators.DailyAnalytics
      def panel(rets: Seq[Double], vols: Seq[Long]) =
        rets.zip(vols).map { case (r, v) => ("S0", r, v, 100.0) }
          .toDF("symbol", "daily_return_pct", "volume", "close_price")
      // all-positive days with return INVERSELY linear in flow:
      // bigger buys move the price LESS -> negative impact slope,
      // and the perfectly linear relation drives corr to -1
      val inv = DailyAnalytics.kyleLambda(
        panel((0 until 32).map(i => 0.01 * (33 - i)),
          (0 until 32).map(i => (i + 1) * 1000L))).collect().head
      assert(inv.getAs[Double]("lambda_per_musd") < 0.0, s"negative-assoc: $inv")
      assert(inv.getAs[Double]("flow_corr") < -0.999)
      // return proportional to flow -> positive slope, corr +1
      val pos = DailyAnalytics.kyleLambda(
        panel((0 until 32).map(i => 0.01 * (i + 1)),
          (0 until 32).map(i => (i + 1) * 1000L))).collect().head
      assert(pos.getAs[Double]("lambda_per_musd") > 0.0, s"positive-assoc: $pos")
      assert(pos.getAs[Double]("flow_corr") > 0.999)
    }

    it("holtWinters sits exactly at the fixpoint on a noiseless period-5 seasonal level") {
      import graft.operators.DailyAnalytics
      def barsOf(closes: Seq[Long]) = closes.zipWithIndex.map { case (c, i) =>
        ("S0", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          c / 100.0)
      }.toDF("symbol", "trade_date", "close_price")
      // zero-sum cent season on a flat level: seeds land exactly on
      // the fixpoint (l0 = level, s_i = season_i, b = 0), and every
      // fold step reproduces the state exactly (100x div 100 = x)
      val season = Seq(100L, -50L, 25L, -75L, 0L)
      val flat = (0 until 45).map(t => 10000L + season(t % 5))
      val row = DailyAnalytics.holtWinters(barsOf(flat)).collect().head
      assert(row.getAs[Double]("level") == 100.0, s"level drifted: $row")
      assert(row.getAs[Double]("trend_per_day") == 0.0, s"trend drifted: $row")
      assert(row.getAs[Double]("one_step_mae") == 0.0, s"nonzero MAE: $row")
      assert(row.getAs[Double]("seasonal_amplitude") == 1.75, s"amplitude: $row")
      // next observation is t = 45: season index 45 % 5 = 0 -> +1.00
      assert(row.getAs[Double]("forecast_1d") == 101.0, s"forecast: $row")
      // a 10-cent/day ramp: the ideal fixpoint (b = 10 cents) exists,
      // but the TRUNCATING div stalls the coupled (l, b) recursion at
      // a self-consistent equilibrium below it (measured: b ≈ 5
      // cents, level lagging ~1% — the price of the integer-exact
      // cross-engine contract, documented here rather than hidden
      // behind a loose pass). Assert the equilibrium properties: a
      // strictly positive trend state, a level tracking the ramp
      // within 2%, and a bounded one-step MAE
      val ramp = (0 until 205).map(t => 10000L + 10L * t + season(t % 5))
      val r2 = DailyAnalytics.holtWinters(barsOf(ramp)).collect().head
      val trueLevel = 100.0 + 0.10 * 204
      assert(r2.getAs[Double]("trend_per_day") > 0.0, s"$r2")
      assert(math.abs(r2.getAs[Double]("level") - trueLevel) <= 0.02 * trueLevel,
        s"level off the ramp by >2%: $r2")
      assert(r2.getAs[Double]("one_step_mae") < 2.0, s"$r2")
    }

    it("hhi stays within [1/n, 1] and top share at least 1/n") {
      val vols = sampled(Gen.choose(1L, 1000L), 40)
      val bars = vols.zipWithIndex.map { case (v, i) =>
        (s"S${i % 8}", java.sql.Date.valueOf("2024-01-0" + (i % 5 + 1)), v)
      }.toDF("symbol", "trade_date", "volume")
      graft.operators.DailyAnalytics.hhiConcentration(bars).collect().foreach { r =>
        val n = r.getAs[Long]("n_symbols").toDouble
        val h = r.getAs[Double]("hhi")
        assert(h >= 1.0 / n - 1e-6 && h <= 1.0 + 1e-6, s"hhi $h outside [1/$n, 1]")
        assert(r.getAs[Double]("top_share") >= 1.0 / n - 1e-4)
      }
    }
  }

  describe("round-15 wave invariants on generated inputs") {
    import graft.operators.{DailyAnalytics, Graph, Profiling, TickAnalytics}

    def dates(n: Int): Seq[java.sql.Date] = (0 until n).map(d =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)))

    it("corwinSchultz: constant H = L series estimates exactly zero spread") {
      // H = L ⇒ β = γ = 0 ⇒ α = 0 ⇒ s = 0 for every pair; and s9 = 0
      // is not > 0, so pct_positive = 0 too
      val bars = dates(40).map(d => ("A", d, 50.0, 50.0))
        .toDF("symbol", "trade_date", "high_price", "low_price")
      val r = DailyAnalytics.corwinSchultz(bars).collect().head
      assert(r.getAs[Long]("n_pairs") == 39L)
      assert(r.getAs[Double]("cs_spread_pct") == 0.0, s"$r")
      assert(r.getAs[Double]("pct_positive") == 0.0, s"$r")
    }

    it("corwinSchultz: pct_positive stays in [0, 1] on arbitrary positive ranges") {
      val hl = sampled(for {
        l <- Gen.choose(100L, 10000L)
        spread <- Gen.choose(0L, 500L)
      } yield (l, l + spread), 120)
      val bars = hl.zip(dates(120)).zipWithIndex.map { case (((l, h), d), i) =>
        (s"S${i % 3}", d, h / 100.0, l / 100.0)
      }.toDF("symbol", "trade_date", "high_price", "low_price")
      DailyAnalytics.corwinSchultz(bars, minDays = 10).collect().foreach { r =>
        val p = r.getAs[Double]("pct_positive")
        assert(p >= 0.0 && p <= 1.0, s"$r")
      }
    }

    it("tCloseness: a class mirroring the corpus has EMD 0; EMD in [0,1]; violations monotone in t") {
      // Single class: its distribution IS the corpus distribution
      val one = (1 to 50).map(i => ("only", i.toLong % 5))
        .toDF("qi", "v")
      val r0 = Profiling.tCloseness(one, Seq("qi"), col("v")).collect().head
      assert(r0.getAs[Double]("max_emd") == 0.0, s"$r0")
      assert(r0.getAs[Long]("n_violating") == 0L)
      // Arbitrary classes: EMD bounded, violation count monotone in t
      val rows = sampled(for {
        c <- Gen.oneOf("a", "b", "c", "d")
        v <- Gen.choose(0L, 9L)
      } yield (c, v), 300).toDF("qi", "v")
      val loose = Profiling.tCloseness(rows, Seq("qi"), col("v"), t = 0.5)
        .collect().head
      val tight = Profiling.tCloseness(rows, Seq("qi"), col("v"), t = 0.001)
        .collect().head
      val emd = loose.getAs[Double]("max_emd")
      assert(emd >= 0.0 && emd <= 1.0 + 1e-9, s"$loose")
      assert(tight.getAs[Long]("n_violating") >= loose.getAs[Long]("n_violating"))
      assert(tight.getAs[Long]("n_exposed_rows") >= loose.getAs[Long]("n_exposed_rows"))
    }

    it("mutualInfo: MI >= 0 and MI <= min(H_a, H_b) on arbitrary contingency data") {
      val rows = sampled(for {
        a <- Gen.oneOf("x", "y", "z")
        b <- Gen.oneOf("p", "q", "r", "s")
      } yield ("G", a, b), 400).toDF("g", "a", "b")
      val r = Profiling.mutualInfo(rows, "g", "a", "b").collect().head
      val (mi, ha, hb) = (r.getAs[Double]("mi_nats"),
        r.getAs[Double]("h_a"), r.getAs[Double]("h_b"))
      // quantization headroom: each cell contributes a scale-12 long
      assert(mi >= -1e-6, s"$r")
      assert(mi <= math.min(ha, hb) + 1e-6, s"$r")
      val nmi = r.getAs[Double]("nmi")
      assert(nmi >= -1e-6 && nmi <= 1.0 + 1e-6, s"$r")
    }

    it("interarrivalFit: KS D in [0,1] always, and seeded exponential gaps pass the gate") {
      val rnd = new scala.util.Random(7)
      // 200 Exp(λ=2/s) gaps via inverse CDF on seeded uniforms
      val gaps = (1 to 200).map(_ =>
        (-math.log(1.0 - rnd.nextDouble()) / 2.0 * 1e9).toLong.max(1L))
      val ts = gaps.scanLeft(0L)(_ + _)
      val expTicks = ts.zipWithIndex.map { case (t, i) => ("E", t, i.toLong) }
      // adversarial non-exponential: constant gaps (tested golden) plus
      // a heavy two-point mixture
      val mix = (0 until 100).map(i =>
        ("M", i.toLong * (if (i % 2 == 0) 1000000L else 4000000000L) + i, (500 + i).toLong))
      val got = TickAnalytics.interarrivalFit(
        (expTicks ++ mix).toDF("symbol", "ts", "event_id")).collect()
        .map(r => r.getAs[String]("symbol") -> r).toMap
      got.values.foreach { r =>
        val d = r.getAs[Double]("ks_d")
        assert(d >= 0.0 && d <= 1.0, s"$r")
      }
      assert(got("E").getAs[Boolean]("exponential_ok"),
        s"true-exponential sample rejected: ${got("E")}")
    }

    it("richClub: exactly |ks| rows, phi in [0,1] or NULL, counts non-increasing in k") {
      val rnd = new scala.util.Random(11)
      val edges = (1 to 150).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
      val rows = Graph.richClub(edges.toDF("u", "v"), "u", "v")
        .orderBy("k").collect()
      assert(rows.length == 4)
      rows.sliding(2).foreach { case Array(lo, hi) =>
        assert(lo.getAs[Long]("n_nodes") >= hi.getAs[Long]("n_nodes"))
        assert(lo.getAs[Long]("n_edges") >= hi.getAs[Long]("n_edges"))
      }
      rows.foreach { r =>
        if (!r.isNullAt(r.fieldIndex("phi"))) {
          val phi = r.getAs[Double]("phi")
          assert(phi >= 0.0 && phi <= 1.0 + 1e-9, s"$r")
        } else assert(r.getAs[Long]("n_nodes") <= 1L, s"NULL phi needs n<=1: $r")
      }
    }

    it("kTruss: survivors are an input subset with support >= k-2 inside the survivor graph") {
      val rnd = new scala.util.Random(23)
      val raw = ((1 to 120).map(_ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)) ++
        // plant a K5 so the 4-truss is non-empty
        (for (a <- 30L to 34L; b <- 30L to 34L if a < b) yield (a, b)))
        .filter(e => e._1 != e._2)
      val input = raw.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val out = Graph.kTruss(raw.toDF("u", "v"), "u", "v", k = 4, rounds = 8)
        .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"),
          r.getAs[Long]("support")))
      assert(out.nonEmpty, "planted K5 must survive the 4-truss")
      val surv = out.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      assert(surv.subsetOf(input), "truss emitted an edge not in the input")
      // brute-force support inside the survivor graph
      def common(a: Long, b: Long): Int = {
        val na = surv.collect { case (x, y) if x == a => y; case (x, y) if y == a => x }
        val nb = surv.collect { case (x, y) if x == b => y; case (x, y) if y == b => x }
        (na intersect nb).size
      }
      out.foreach { case (u, v, s) =>
        val bf = common(math.min(u, v), math.max(u, v))
        assert(s == bf, s"support mismatch on ($u,$v): op=$s brute=$bf")
        assert(s >= 2, s"4-truss edge ($u,$v) has support $s < k-2")
      }
    }
  }

  describe("round-16 wave invariants on generated inputs") {
    import graft.operators.{Cohorts, DailyAnalytics, TextAnalysis}

    def dates(n: Int): Seq[java.sql.Date] = (0 until n).map(d =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)))

    // INTEGER-percent return panels: scaled(y, 4) is exact on integer
    // doubles, so multiplying by an integer constant scales the
    // fixed-point longs EXACTLY — the precondition the scale/shift
    // invariance cases below rely on.
    def intPanel(seed: Int, symbols: Int, days: Int,
                 lo: Int = -50, hi: Int = 50): Seq[(String, java.sql.Date, Double)] = {
      val rnd = new scala.util.Random(seed)
      val ds = dates(days)
      for (s <- 0 until symbols; d <- 0 until days)
        yield (s"S$s", ds(d), (lo + rnd.nextInt(hi - lo + 1)).toDouble)
    }

    it("bradleyTerry: strengths are a distribution and permutation-equivariant") {
      val rnd = new scala.util.Random(31)
      val items = (0 until 6).map(i => s"I$i")
      // every unordered pair plays: n in [3,10], wi in [1, n-1] keeps
      // each item with >= 1 win and >= 1 loss (the BT existence
      // condition the operator documents)
      val grid = for {
        i <- items.indices; j <- items.indices if i < j
        n = 3 + rnd.nextInt(8); wi = 1 + rnd.nextInt(n - 1)
      } yield (items(i), items(j), n.toLong, wi.toLong)
      val both = (grid ++ grid.map { case (i, j, n, w) => (j, i, n, n - w) })
        .toDF("i", "j", "n", "wi")
      val out = Cohorts.bradleyTerry(both).collect()
        .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("bt_strength")).toMap
      assert(out.size == items.size)
      assert(math.abs(out.values.sum - 1.0) <= items.size * 1e-6,
        s"strengths must sum to 1: $out")
      out.values.foreach(s => assert(s > 0.0 && s < 1.0))
      // relabel the items by a permutation: strengths must follow the
      // labels bit-for-bit (nothing in the MM update depends on names)
      val perm = items.zip(scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).shuffle(items)).toMap
      val permuted = (grid ++ grid.map { case (i, j, n, w) => (j, i, n, n - w) })
        .map { case (i, j, n, w) => (perm(i), perm(j), n, w) }
        .toDF("i", "j", "n", "wi")
      val out2 = Cohorts.bradleyTerry(permuted).collect()
        .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("bt_strength")).toMap
      items.foreach(i => assert(out2(perm(i)) == out(i),
        s"permutation changed ${i}'s strength: ${out(i)} -> ${out2(perm(i))}"))
    }

    it("passAtK: pass@k in [pass@1, 1] and monotone non-decreasing in k") {
      val rnd = new scala.util.Random(41)
      val events = (0 until 40).flatMap { t =>
        val n = 6 + rnd.nextInt(20)
        (0 until n).map(_ => (s"T$t", rnd.nextInt(30).toLong))
      }.toDF("user_id", "value")
      val succ = col("value") > 20
      val byK = Seq(2, 3, 5).map { k =>
        k -> Cohorts.passAtK(events, "user_id", succ, k).collect()
          .map(r => r.getAs[String]("task") ->
            (r.getAs[Double]("pass_at_1"), r.getAs[Double](s"pass_at_$k"))).toMap
      }.toMap
      byK.foreach { case (k, m) => m.foreach { case (t, (p1, pk)) =>
        assert(pk >= p1 - 1e-9 && pk <= 1.0 + 1e-9, s"k=$k task=$t p1=$p1 pk=$pk")
      } }
      // monotone in k on tasks present at every k (n >= 5)
      byK(5).keySet.foreach { t =>
        val (p2, p3, p5) = (byK(2)(t)._2, byK(3)(t)._2, byK(5)(t)._2)
        assert(p2 <= p3 + 1e-6 && p3 <= p5 + 1e-6, s"$t: $p2 $p3 $p5 not monotone")
      }
    }

    it("kupiecPof: zero-violation and all-violation boundaries stay finite") {
      val ds = dates(120)
      // train half deeply negative -> VaR threshold far below zero;
      // test half positive -> x = 0. Swap the halves' signs for x = m.
      val zero = ds.zipWithIndex.map { case (d, t) =>
        ("Z", d, if (t < 60) -80.0 - (t % 7) else 5.0 + (t % 3)) }
      val all = ds.zipWithIndex.map { case (d, t) =>
        ("A", d, if (t < 60) 5.0 + (t % 3) else -80.0 - (t % 7)) }
      val out = DailyAnalytics.kupiecPof(
        (zero ++ all).toDF("symbol", "trade_date", "daily_return_pct"))
        .collect().map(r => r.getAs[String]("symbol") -> r).toMap
      val z = out("Z"); val a = out("A")
      assert(z.getAs[Long]("n_violations") == 0L)
      assert(a.getAs[Long]("n_violations") == a.getAs[Long]("n_test"))
      Seq(z, a).foreach { r =>
        val lr = r.getAs[Double]("lr_pof")
        assert(!lr.isNaN && !lr.isInfinite && lr >= -1e-9, s"$r")
        assert(r.getAs[Boolean]("reject_model"), s"boundary rate must reject: $r")
      }
    }

    it("pettittTest: location shift leaves the statistic and split point unchanged") {
      val panel = intPanel(53, symbols = 4, days = 90)
      def run(shift: Int) = DailyAnalytics.pettittTest(
        panel.map { case (s, d, y) => (s, d, y + shift) }
          .toDF("symbol", "trade_date", "daily_return_pct"), minDays = 60)
        .collect().map(r => r.getAs[String]("symbol") ->
          (r.getAs[Long]("k_stat"), r.getAs[java.sql.Date]("change_date").toString,
            r.getAs[Boolean]("significant"))).toMap
      val base = run(0)
      assert(base.size == 4)
      assert(run(17) == base, "ranks are shift-invariant; Pettitt must be too")
      assert(run(-9) == base)
    }

    it("hillTail: alpha > 0 and exact scale invariance of xi on integer panels") {
      val panel = intPanel(67, symbols = 3, days = 200, lo = -60, hi = 40)
      def run(mult: Int) = DailyAnalytics.hillTail(
        panel.map { case (s, d, y) => (s, d, y * mult) }
          .toDF("symbol", "trade_date", "daily_return_pct"),
        kTop = 10, minLosses = 20)
        .collect().map(r => r.getAs[String]("symbol") ->
          (r.getAs[Double]("xi_hill"), r.getAs[Double]("alpha_tail"))).toMap
      val base = run(1)
      assert(base.nonEmpty)
      base.values.foreach { case (xi, alpha) =>
        assert(xi > 0.0 && alpha > 0.0, s"xi=$xi alpha=$alpha") }
      // losses x -> 3x exactly at scale 4, so every ln(x_i/x_k) ratio
      // and hence xi is bit-identical
      assert(run(3) == base, "Hill xi must be scale-free")
    }

    it("rboDrift: in [0,1]; identical parity halves score exactly 1") {
      // doc 2i and 2i+1 carry the same text -> both halves' token
      // rankings are identical and >= depth long
      val words = (0 until 12).map(i => s"w$i")
      val docs = (0 until 30).flatMap { i =>
        val text = (0 to i % 5).flatMap(k =>
          words.take(12 - k)).mkString(" ")
        Seq((2L * i, text), (2L * i + 1, text))
      }.toDF("doc_id", "text")
      val r = TextAnalysis.rboDrift(docs, "doc_id", "text", depth = 8)
        .collect().head
      assert(r.getAs[Double]("rbo") == 1.0, s"$r")
      // arbitrary asymmetric halves stay bounded
      val rnd = new scala.util.Random(73)
      val docs2 = (0 until 60).map { i =>
        (i.toLong, (0 until 20).map(_ => words(rnd.nextInt(words.size)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val r2 = TextAnalysis.rboDrift(docs2, "doc_id", "text", depth = 8)
        .collect().head
      val v = r2.getAs[Double]("rbo")
      assert(v >= 0.0 && v <= 1.0, s"$r2")
    }

    it("goodTuring: p0 is a probability, chao1 >= observed vocabulary") {
      val rnd = new scala.util.Random(83)
      val words = (0 until 40).map(i => s"t$i")
      val docs = (0 until 50).map { i =>
        // Zipf-ish draw so singletons and doubletons both exist
        (i.toLong, (0 until 15).map(_ =>
          words(math.min(39, (math.pow(rnd.nextDouble(), 2) * 40).toInt)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val r = TextAnalysis.goodTuring(docs, "doc_id", "text").collect().head
      val p0 = r.getAs[Double]("p0_unseen")
      assert(p0 >= 0.0 && p0 <= 1.0, s"$r")
      assert(r.getAs[Double]("chao1_vocab") >= r.getAs[Long]("vocab").toDouble - 1e-9,
        s"Chao1 is a bias CORRECTION upward: $r")
      assert(r.getAs[Long]("n1_singletons") + r.getAs[Long]("n2_doubletons")
        <= r.getAs[Long]("vocab"))
    }

    it("brownForsythe: F and eta_sq are exactly scale-invariant on integer panels") {
      val rnd = new scala.util.Random(97)
      val ds = dates(140)
      val panel = ds.map(d => ("X", d, (rnd.nextInt(81) - 40).toDouble))
      def run(mult: Int) = {
        val r = DailyAnalytics.brownForsythe(
          panel.map { case (s, d, y) => (s, d, y * mult) }
            .toDF("symbol", "trade_date", "daily_return_pct")).collect().head
        (r.getAs[Double]("f_stat"), r.getAs[Double]("eta_sq"),
          r.getAs[Long]("n_days"), r.getAs[Long]("k_groups"))
      }
      val (f1, e1, n1, k1) = run(1)
      assert(n1 == 140L && k1 == 7L)
      assert(!f1.isNaN && f1 >= 0.0 && e1 >= 0.0 && e1 <= 1.0 + 1e-9)
      // y -> 5y scales every exact sum by 25; the F and eta ratios are
      // the same real number and the double divisions see exactly
      // scaled operands, so the rounded outputs are bit-identical
      val (f5, e5, _, _) = run(5)
      assert(f5 == f1 && e5 == e1, s"F $f1->$f5 eta $e1->$e5 not scale-free")
    }
  }
}
