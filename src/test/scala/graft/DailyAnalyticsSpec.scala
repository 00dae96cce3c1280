package graft

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import graft.operators.DailyAnalytics
import graft.sources.Adapters

/** Golden values for the window stack (W1-W9) + the reference's dbt
  * test suite ported as invariants (SURVEY §5). */
class DailyAnalyticsSpec extends AnyFunSpec {
  import SharedSpark.spark
  import spark.implicits._

  private lazy val bars = Seq(
    // symbol, date, open, high, low, close, volume
    ("A", "2024-01-01", 9.0, 10.5, 8.5, 10.0, 100L),
    ("A", "2024-01-02", 10.0, 11.5, 9.5, 11.0, 200L),
    ("A", "2024-01-03", 11.0, 12.5, 10.5, 12.0, 100L),
    ("A", "2024-01-04", 12.0, 12.5, 10.5, 11.0, 400L),
    ("A", "2024-01-05", 11.0, 13.5, 10.5, 13.0, 100L),
    ("B", "2024-01-01", 50.0, 51.0, 49.0, 50.0, 1000L))
    .toDF("symbol", "ds", "open_price", "high_price", "low_price", "close_price", "volume")
    .withColumn("trade_date", to_date($"ds")).drop("ds")

  private lazy val perf = DailyAnalytics.martStockPerformance(bars)
    .orderBy("symbol", "trade_date").collect()

  describe("dailyReturns (W1/W2)") {
    it("computes lag-based returns and first-row markers") {
      val a2 = perf(1) // A, 2024-01-02
      assert(a2.getAs[Double]("prev_close_price") == 10.0)
      assert(a2.getAs[Double]("daily_return_pct") == 10.0)   // (11-10)/10*100
      assert(a2.getAs[Double]("overnight_gap") == 0.0)       // open 10 - prev close 10
      val a1 = perf(0)
      assert(a1.isNullAt(a1.fieldIndex("daily_return_pct"))) // no previous row
    }
  }

  describe("rollingMetrics (W3-W6)") {
    it("matches hand-computed SMA values on partial frames") {
      assert(perf(2).getAs[Double]("sma_5d") == 11.0)  // avg(10,11,12)
      assert(perf(4).getAs[Double]("sma_5d") == 11.4)  // avg(10,11,12,11,13)
    }
    it("computes the simplified RSI from rolling mean gain/loss") {
      // A returns: null, +10, +9.0909, -8.3333, +18.1818
      // gains avg = (0+10+9.0909+0+18.1818)/5, losses avg = 8.3333/5
      val rsi = perf(4).getAs[Double]("rsi_14")
      assert(rsi > 81 && rsi < 82) // 100 - 100/(1 + 37.2727/8.3333) = 81.73
    }
    it("volume ratio flags the 2x day") {
      assert(perf(3).getAs[Boolean]("is_high_volume_day")) // 400 vs avg(100,200,100,400)=200
    }
  }

  describe("reference dbt test ports (SURVEY §5)") {
    lazy val sfPerf = DailyAnalytics.martStockPerformance(
      Adapters.dailyBars(spark, "/root/testdata/sf0.001"))

    it("assert_high_not_below_low") {
      assert(sfPerf.filter($"high_price" < $"low_price").isEmpty)
    }
    it("rsi_14 in [0, 100] when present") {
      assert(sfPerf.filter($"rsi_14".isNotNull && ($"rsi_14" < 0 || $"rsi_14" > 100)).isEmpty)
    }
    it("signal domains (accepted_values)") {
      val domains = Map(
        "ma_signal_5_20" -> Set("GOLDEN_CROSS", "DEATH_CROSS", "NEUTRAL"),
        "ma_signal_10_50" -> Set("GOLDEN_CROSS", "DEATH_CROSS", "NEUTRAL"),
        "rsi_signal" -> Set("OVERBOUGHT", "OVERSOLD", "NEUTRAL"))
      domains.foreach { case (c, dom) =>
        assert(sfPerf.filter(!col(c).isin(dom.toSeq: _*)).isEmpty, s"domain of $c")
      }
    }
    it("pct_of_52w_range in [0, 100]") {
      assert(sfPerf.filter($"pct_of_52w_range".isNotNull &&
        ($"pct_of_52w_range" < 0 || $"pct_of_52w_range" > 100)).isEmpty)
    }
    it("mart_daily_summary: trade_date unique + advancers/decliners consistent") {
      val sum = DailyAnalytics.martDailySummary(sfPerf)
      assert(sum.groupBy("trade_date").count().filter($"count" > 1).isEmpty)
      assert(sum.filter($"advancers" + $"decliners" + $"unchanged" > $"symbols_tracked").isEmpty)
    }
  }

  describe("wilderRsi (textbook EMA variant of the reference's quirk)") {
    it("matches an independent scalar fold on a mixed series") {
      val rets = Seq(2.0, -1.0, 3.0, -2.0, 1.0, 1.5, -0.5, 2.5, -1.5, 1.0,
        0.5, -0.25, 1.25, -0.75, 2.0, -1.0)
      val series = rets.zipWithIndex.map { case (r, i) =>
        ("X", java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), r)
      }.toDF("symbol", "trade_date", "daily_return_pct")
      val got = DailyAnalytics.wilderRsi(series)
        .orderBy("trade_date").select("rsi_14_wilder").as[Option[Double]].collect()

      // independent fold
      var ag = 0.0; var al = 0.0
      val expect = rets.zipWithIndex.map { case (r, i) =>
        val (g, l) = (math.max(r, 0), math.max(-r, 0))
        if (i < 14) { ag += (g - ag) / (i + 1); al += (l - al) / (i + 1) }
        else { ag = (ag * 13 + g) / 14; al = (al * 13 + l) / 14 }
        if (i + 1 < 14 || al == 0) None
        else Some(math.floor((100.0 - 100.0 / (1 + ag / al)) * 100 + 0.5) / 100)
      }
      assert(got.toSeq == expect)
      assert(got.flatten.forall(v => v >= 0 && v <= 100))
    }
  }

  describe("symbolStats merge law") {
    it("stats of any split merge to the stats of the whole, exactly") {
      val whole = DailyAnalytics.symbolStats(bars)
      Seq("2024-01-02", "2024-01-04").foreach { cut =>
        val c = to_date(lit(cut))
        val merged = DailyAnalytics.mergeSymbolStats(
          DailyAnalytics.symbolStats(bars.filter($"trade_date" < c)),
          DailyAnalytics.symbolStats(bars.filter($"trade_date" >= c)))
        assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
          s"merge law broken at cut $cut")
      }
    }
  }

  describe("madOutliers") {
    it("flags a planted spike and not the steady days") {
      // steady ±1% returns, one +40% print on day 10
      val rows = (1 to 21).map { i =>
        val close = if (i == 10) 140.0 else 100.0 + (i % 2)
        ("S", f"2024-02-$i%02d", close, close, close, close, 100L)
      }
      val b = rows.toDF("symbol", "ds", "open_price", "high_price", "low_price",
          "close_price", "volume")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
      val out = DailyAnalytics.madOutliers(DailyAnalytics.dailyReturns(b)).collect()
      assert(out.length == 1)
      val r = out.head
      assert(r.getAs[Long]("n_days") == 20) // first day has null return
      // the spike up AND the reversion down are both beyond 4.4478 * MAD
      assert(r.getAs[Long]("n_outliers") == 2)
    }
    it("zero MAD (constant returns) flags nothing, not everything") {
      val b = (1 to 9).map(i => ("C", f"2024-03-0$i", 100.0, 100.0, 100.0, 100.0, 10L))
        .toDF("symbol", "ds", "open_price", "high_price", "low_price",
          "close_price", "volume")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
      val r = DailyAnalytics.madOutliers(DailyAnalytics.dailyReturns(b)).collect().head
      assert(r.getAs[Long]("n_outliers") == 0)
    }
  }

  describe("J2 join form vs fused form") {
    it("produce identical rows on shared columns") {
      val joined = DailyAnalytics.joinedStockPerformance(bars)
        .select("symbol", "trade_date", "daily_return_pct", "sma_20d", "rsi_14")
      val fused = DailyAnalytics.martStockPerformance(bars)
        .select("symbol", "trade_date", "daily_return_pct", "sma_20d", "rsi_14")
      assert(joined.exceptAll(fused).isEmpty && fused.exceptAll(joined).isEmpty)
    }
  }

  describe("calendarRolling (RANGE-interval frame)") {
    it("drops observations older than the day window across gaps — a ROWS frame would not") {
      import graft.operators.DailyAnalytics
      // 3 trading days, then a 10-day halt, then one more day
      val rows = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-13")
        .zipWithIndex.map { case (d, i) => ("A", d, 100.0 + i, 10L) }
        .toDF("symbol", "d", "close_price", "volume")
        .withColumn("trade_date", to_date($"d")).drop("d")
      val got = DailyAnalytics.calendarRolling(rows, days = 7)
        .orderBy("trade_date")
        .select("n_obs_7d", "avg_close_7d")
        .as[(Long, Double)].collect().toSeq
      // the post-gap day sees ONLY itself in its 7-day window
      assert(got.map(_._1) == Seq(1L, 2L, 3L, 1L))
      assert(got.last._2 == 103.0)
    }
  }

  describe("sectorSummary over the seed CSV (S9 joined, not just loaded)") {
    it("rolls up a ticker-keyed performance frame through RawSources.tickerDim") {
      import graft.operators.Enrichment
      import graft.sources.RawSources
      // a seed in the reference CSV's exact shape, own fixture content
      TempDir("graft_seed") { dir =>
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/tickers.csv"),
          ("symbol,company_name,sector,industry,market_cap_tier\n" +
            "AAA,Alpha Co,Tech,Software,LARGE\n" +
            "BBB,Beta Co,Tech,Hardware,MID\n" +
            "CCC,Gamma Co,Energy,Oil,LARGE\n").getBytes("UTF-8"))
        val dim = RawSources.tickerDim(spark, s"$dir/tickers.csv")
          .select("symbol", "sector", "market_cap_tier")
        val perf = Seq(
          ("AAA", "2024-01-02", Some(1.5), "GOLDEN_CROSS", "NEUTRAL", 100L),
          ("BBB", "2024-01-02", Some(-0.5), "NEUTRAL", "OVERBOUGHT", 200L),
          ("CCC", "2024-01-02", None, "NEUTRAL", "NEUTRAL", 50L))
          .toDF("symbol", "d", "daily_return_pct", "ma_signal_5_20", "rsi_signal", "volume")
          .withColumn("trade_date", to_date($"d")).drop("d")
        val got = Enrichment.sectorSummary(perf, dim)
          .orderBy("sector", "market_cap_tier")
          .select("sector", "market_cap_tier", "symbols", "advancers", "decliners",
            "avg_return_pct", "golden_cross_5_20_count", "overbought_count", "total_volume")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getLong(4), Option(r.get(5)), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
        assert(got == Seq(
          ("Energy", "LARGE", 1L, 0L, 0L, None, 0L, 0L, 50L),
          ("Tech", "LARGE", 1L, 1L, 0L, Some(1.5), 1L, 0L, 100L),
          ("Tech", "MID", 1L, 0L, 1L, Some(-0.5), 0L, 1L, 200L)))
      }
    }
  }

  describe("resampleOhlc") {
    it("rolls a week to first-open/last-close OHLCV with exact VWAP") {
      val wk = DailyAnalytics.resampleOhlc(bars, "week")
        .orderBy("symbol").collect()
      assert(wk.length == 2) // A's 5 days are one ISO week; B one day
      val a = wk(0)
      assert(a.getAs[Double]("open_price") == 9.0)   // first open (Jan 1)
      assert(a.getAs[Double]("close_price") == 13.0) // last close (Jan 5)
      assert(a.getAs[Double]("high_price") == 13.5)
      assert(a.getAs[Double]("low_price") == 8.5)
      assert(a.getAs[Long]("volume") == 900L)
      assert(a.getAs[Long]("n_days") == 5L)
      // Σ close_fp·vol = 1_010_000, /900/100 = 11.2222...
      assert(a.getAs[Double]("vwap") == 11.2222)
      val b = wk(1)
      assert(b.getAs[Long]("n_days") == 1L)
      assert(b.getAs[Double]("vwap") == 50.0)
    }
  }

  describe("obv") {
    it("accumulates signed volume, first/flat days contributing 0") {
      val got = DailyAnalytics.obv(DailyAnalytics.dailyReturns(bars))
        .filter($"symbol" === "A").orderBy("trade_date")
        .collect().map(_.getAs[Long]("obv")).toSeq
      // vols 100,200,100,400,100; signs 0,+,+,-,+
      assert(got == Seq(0L, 200L, 300L, -100L, 0L))
    }
  }

  describe("stochastic") {
    it("places the close inside the rolling channel and SMAs the signal") {
      val a = DailyAnalytics.stochastic(bars)
        .filter($"symbol" === "A").orderBy("trade_date").collect()
      assert(a(0).getAs[Double]("pct_k") == 75.0)   // (10-8.5)/(10.5-8.5)
      assert(a(1).getAs[Double]("pct_k") == 83.33)  // (11-8.5)/(11.5-8.5)
      assert(a(2).getAs[Double]("pct_k") == 87.5)   // (12-8.5)/(12.5-8.5)
      assert(a(2).getAs[Double]("pct_d") == 81.94)  // (7500+8333+8750)/3/100
    }
  }

  describe("emaClose (integer-recursive fold)") {
    it("matches the hand-run recursion on symbol A") {
      val a = DailyAnalytics.emaClose(bars)
        .filter($"symbol" === "A").collect().head
      // scale-2 closes 1000,1100,1200,1100,1300; (2x+11acc) div 13:
      // 1000 -> 1015 -> 1043 -> 1051 -> 1089
      assert(a.getAs[Long]("n_days") == 5L)
      assert(a.getAs[Double]("ema_12") == 10.89)
    }
    it("a single bar seeds and returns its own close") {
      val b = DailyAnalytics.emaClose(bars)
        .filter($"symbol" === "B").collect().head
      assert(b.getAs[Double]("ema_12") == 50.0)
    }
  }

  describe("macd (composite array-state fold)") {
    it("matches the hand-run three-line recursion on symbol A") {
      val a = DailyAnalytics.macd(bars).filter($"symbol" === "A").collect().head
      // e12: 1000->1015->1043->1051->1089; e26: 1000->1007->1021->1026->1046
      // sig over fresh macd (8,22,25,43): 0->1->5->9->15
      assert(a.getAs[Long]("n_days") == 5L)
      assert(a.getAs[Double]("macd_12_26") == 0.43)
      assert(a.getAs[Double]("signal_9") == 0.15)
      assert(a.getAs[Double]("histogram") == 0.28)
    }
    it("a single bar yields flat lines") {
      val b = DailyAnalytics.macd(bars).filter($"symbol" === "B").collect().head
      assert(b.getAs[Double]("macd_12_26") == 0.0)
      assert(b.getAs[Double]("signal_9") == 0.0)
    }
  }

  describe("indicatorBands") {
    it("seeds true range with high-low on day one and Wilder TR after") {
      val rows = DailyAnalytics.indicatorBands(bars)
        .orderBy("symbol", "trade_date").collect()
      val a1 = rows(0) // A day 1: no prev close -> TR = 10.5 - 8.5 = 2.0 = ATR
      assert(a1.getAs[Double]("atr_14") == 2.0)
      // A day 2: TR = max(11.5-9.5, |11.5-10|, |9.5-10|) = 2.0; ATR = 2.0
      assert(rows(1).getAs[Double]("atr_14") == 2.0)
      // Donchian over the partial 20-frame = running high/low
      assert(rows(4).getAs[Double]("donchian_high") == 13.5)
      assert(rows(4).getAs[Double]("donchian_low") == 8.5)
      assert(rows(4).getAs[Double]("donchian_mid") == 11.0)
    }
    it("degenerate bands: single-bar symbol has null sd, ATR-only Keltner") {
      val b = DailyAnalytics.indicatorBands(bars)
        .filter($"symbol" === "B").collect().head
      assert(b.getAs[Double]("bb_mid") == 50.0)
      assert(b.isNullAt(b.fieldIndex("bb_upper"))) // stddev_samp of 1 row
      assert(b.isNullAt(b.fieldIndex("pct_b")))
      assert(b.getAs[Double]("atr_14") == 2.0) // 51 - 49
      assert(b.getAs[Double]("kc_upper") == 54.0) // mid + 2*ATR
      assert(b.getAs[Double]("kc_lower") == 46.0)
    }
  }

  describe("wilderRsiExactFold") {
    it("seeds with the exact mean then applies Wilder's step (period=3)") {
      val r = DailyAnalytics.wilderRsiExactFold(
        DailyAnalytics.dailyReturns(bars), period = 3)
        .filter($"symbol" === "A").collect().head
      // A's scale-4 returns: +100000, +90909, -83333, +181818
      // seed at i=3: g=190909/3=63636, l=83333/3=27777
      // i=4: g=(2*63636+181818)/3=103030, l=(2*27777)/3=18518
      val exp = math.floor((100.0 - 100.0 / (1 + 103030.0 / 18518.0)) * 100 + 0.5) / 100
      assert(r.getAs[Long]("n_rets") == 4L)
      assert(r.getAs[Double]("rsi_wilder") == exp)
    }
    it("drops symbols with fewer returns than the period") {
      assert(DailyAnalytics.wilderRsiExactFold(
        DailyAnalytics.dailyReturns(bars), period = 5).isEmpty) // A has 4 returns
    }
  }

  describe("calendarFill") {
    it("scaffolds missing days and forward-fills the close") {
      val sparse = Seq(
        ("A", "2024-01-01", 10.0, 100L),
        ("A", "2024-01-04", 13.0, 400L)) // 3-day gap
        .toDF("symbol", "ds", "close_price", "volume")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
      val got = DailyAnalytics.calendarFill(sparse)
        .orderBy("trade_date").collect()
      assert(got.length == 4)
      assert(got.map(_.getAs[Boolean]("is_gap")).toSeq ==
        Seq(false, true, true, false))
      assert(got.map(_.getAs[Double]("close_filled")).toSeq ==
        Seq(10.0, 10.0, 10.0, 13.0))
      assert(got.map(_.getAs[Long]("volume")).toSeq ==
        Seq(100L, 0L, 0L, 400L))
    }
  }

  describe("walkForwardSplits") {
    it("no train date enters the embargo, test blocks tile the calendar") {
      // 10 consecutive days, 2 folds, embargo 2
      val panel = (1 to 10).map(d => ("A", f"2024-01-$d%02d", 10.0))
        .toDF("symbol", "ds", "close_price")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
      val s = DailyAnalytics.walkForwardSplits(panel, nFolds = 2, embargoDays = 2)
        .collect().map(r => (r.getAs[Long]("fold"),
          r.getAs[java.sql.Date]("trade_date").toString, r.getString(2)))
      // fold 1 tests days 6-10; embargo purges days 4,5; trains 1-3
      val f1 = s.filter(_._1 == 1L)
      assert(f1.filter(_._3 == "test").map(_._2).sorted.toSeq ==
        (6 to 10).map(d => f"2024-01-$d%02d"))
      assert(f1.filter(_._3 == "train").map(_._2).sorted.toSeq ==
        (1 to 3).map(d => f"2024-01-$d%02d"))
      // fold 0 tests days 1-5 and has no train dates at all
      val f0 = s.filter(_._1 == 0L)
      assert(f0.forall(_._3 == "test"))
      assert(f0.map(_._2).sorted.toSeq == (1 to 5).map(d => f"2024-01-$d%02d"))
    }
  }

  describe("varCvar") {
    it("picks the exact order statistic and averages the tail") {
      // 20 returns: -20, -19, ..., -1 (as percents) via a price walk?
      // simpler: feed a synthetic returns frame directly
      val rets = (1 to 20).map(i => ("A", f"2024-01-$i%02d", -21.0 + i))
        .toDF("symbol", "ds", "daily_return_pct")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
      val r = DailyAnalytics.varCvar(rets, alpha = 0.1, minDays = 20)
        .collect().head
      // sorted: -20..-1; k = floor(0.1*19)+1 = 2 -> var = -19
      assert(r.getAs[Double]("var_pct") == -19.0)
      // cvar = (-20 + -19)/2 = -19.5
      assert(r.getAs[Double]("cvar_pct") == -19.5)
      assert(r.getAs[Long]("n_days") == 20L)
    }
    it("drops short series") {
      val rets = Seq(("A", "2024-01-01", -1.0))
        .toDF("symbol", "ds", "daily_return_pct")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
      assert(DailyAnalytics.varCvar(rets, minDays = 20).isEmpty)
    }
  }

  describe("pairsSpread") {
    it("picks the perfectly-correlated pair and guards a zero-variance spread") {
      // A and B move in lockstep (corr 1), C anticorrelates
      val panel = (1 to 31).flatMap { i =>
        val up = if (i % 2 == 0) 1.05 else 1.0
        Seq(("A", f"2024-01-$i%02d", 10.0 * up * i),
            ("B", f"2024-01-$i%02d", 20.0 * up * i),
            ("C", f"2024-01-$i%02d", 30.0 / up / i))
      }
        .toDF("symbol", "ds", "close_price")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
        .withColumn("open_price", $"close_price")
        .withColumn("high_price", $"close_price")
        .withColumn("low_price", $"close_price")
        .withColumn("volume", lit(100L))
      val sp = DailyAnalytics.pairsSpread(DailyAnalytics.dailyReturns(panel))
        .collect()
      assert(sp.nonEmpty)
      assert(sp.forall(r => r.getString(0) == "A" && r.getString(1) == "B"))
    }
  }

  describe("seasonalityDow") {
    it("profiles weekdays with exact means and up-ratios") {
      // 2024-01-01 is a Monday (dow=2): returns +10 (Tue), +9.09 (Wed),
      // -8.33 (Thu), +18.18 (Fri) from the A fixture
      val s = DailyAnalytics.seasonalityDow(DailyAnalytics.dailyReturns(bars))
        .orderBy("dow").collect()
      assert(s.map(_.getInt(0)).toSeq == Seq(3, 4, 5, 6))
      val fri = s(3)
      assert(fri.getAs[Long]("n_days") == 1L)
      assert(fri.getAs[Double]("mean_return_pct") == 18.1818)
      assert(fri.getAs[Double]("up_ratio") == 1.0)
    }
  }

  describe("autocorrelation") {
    it("a perfectly alternating series has ACF(1) = -1") {
      val rets = (1 to 31).map(i =>
        ("A", f"2024-01-$i%02d", if (i % 2 == 0) 1.0 else -1.0))
        .toDF("symbol", "ds", "daily_return_pct")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
      val r = DailyAnalytics.autocorrelation(rets).collect().head
      assert(r.getAs[Long]("n_pairs") == 30L)
      assert(r.getAs[Double]("acf_1") == -1.0)
    }
  }

  describe("crossSectionalZ") {
    it("standardizes each day's cross-section exactly") {
      // one day, three symbols, returns 10/20/30% -> z = -1, 0, +1
      val panel = Seq(
        ("A", "2024-01-01", 10.0), ("A", "2024-01-02", 11.0),
        ("B", "2024-01-01", 20.0), ("B", "2024-01-02", 24.0),
        ("C", "2024-01-01", 30.0), ("C", "2024-01-02", 39.0))
        .toDF("symbol", "ds", "close_price")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
        .withColumn("open_price", $"close_price")
        .withColumn("high_price", $"close_price")
        .withColumn("low_price", $"close_price")
        .withColumn("volume", lit(100L))
      val z = DailyAnalytics.crossSectionalZ(DailyAnalytics.dailyReturns(panel))
        .orderBy("symbol").collect()
      assert(z.map(_.getAs[Double]("z")).toSeq == Seq(-1.0, 0.0, 1.0))
      assert(z.map(_.getAs[Double]("return_pct")).toSeq == Seq(10.0, 20.0, 30.0))
    }
  }

  describe("momentumDeciles") {
    it("ranks the cross-section per day with deterministic ties") {
      val panel = (for {
        (sym, base) <- Seq(("A", 10.0), ("B", 20.0), ("C", 30.0))
        d <- 1 to 3
      } yield (sym, s"2024-01-0$d",
        // A flat, B +10%/day-ish, C -10%/day-ish off the base
        base * (d match { case 1 => 1.0
                          case 2 => if (sym == "B") 1.1 else if (sym == "C") 0.9 else 1.0
                          case _ => if (sym == "B") 1.2 else if (sym == "C") 0.8 else 1.0 })))
        .toDF("symbol", "ds", "close_price")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
        .withColumn("open_price", $"close_price")
        .withColumn("high_price", $"close_price")
        .withColumn("low_price", $"close_price")
        .withColumn("volume", lit(100L))
      val m = DailyAnalytics.momentumDeciles(panel, lagDays = 2)
        .orderBy("symbol").collect()
      // only day 3 has a 2-day lag: momenta A 0%, B +20%, C -20%
      assert(m.map(r => (r.getString(0), r.getAs[Double]("momentum_pct"))).toSeq ==
        Seq(("A", 0.0), ("B", 20.0), ("C", -20.0)))
      // ntile(10) over 3 rows ordered by momentum: C(1) < A(2) < B(3)
      assert(m.map(r => (r.getString(0), r.getAs[Int]("decile"))).toSeq ==
        Seq(("A", 2), ("B", 3), ("C", 1)))
    }
  }

  describe("sharpeRatio") {
    it("matches the hand formula on symbol A and drops short series") {
      val rows = DailyAnalytics.sharpeRatio(
        DailyAnalytics.dailyReturns(bars), minDays = 2).collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("A")) // B has 1 day
      val r = rows.head
      val ys = Seq(100000L, 90909L, -83333L, 181818L) // A's scale-4 returns
      val n = ys.size
      val sy = ys.sum
      val syy = ys.map(y => y * y).sum
      val expMean = math.floor(sy.toDouble / n / 10000.0 * 10000 + 0.5) / 10000
      val sharpe = (sy.toDouble / n) /
        math.sqrt((n * syy - sy * sy).toDouble / (n.toLong * (n - 1))) *
        math.sqrt(252.0)
      val expSharpe = math.floor(sharpe * 10000 + 0.5) / 10000
      assert(r.getAs[Long]("n_days") == 4L)
      assert(r.getAs[Double]("mean_return_pct") == expMean)
      assert(r.getAs[Double]("sharpe_annual") == expSharpe)
    }
  }

  describe("sortinoRatio") {
    it("matches the hand downside-only formula; all-gain series has null sortino") {
      val rows = DailyAnalytics.sortinoRatio(
        DailyAnalytics.dailyReturns(bars), minDays = 2).collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("A"))
      val r = rows.head
      val ys = Seq(100000L, 90909L, -83333L, 181818L)
      val n = ys.size
      val sy = ys.sum
      val sdd = ys.map(y => math.min(y, 0L)).map(y => y * y).sum
      val sortino = (sy.toDouble / n) / math.sqrt(sdd.toDouble / n) * math.sqrt(252.0)
      assert(r.getAs[Double]("sortino_annual") ==
        math.floor(sortino * 10000 + 0.5) / 10000)
      // a series that never goes down has zero downside deviation → null
      val up = Seq("2024-01-01" -> 10.0, "2024-01-02" -> 11.0, "2024-01-03" -> 12.0,
        "2024-01-04" -> 13.0)
        .toDF("ds", "close_price")
        .withColumn("symbol", lit("U"))
        .withColumn("trade_date", to_date($"ds")).drop("ds")
        .withColumn("open_price", $"close_price")
        .withColumn("high_price", $"close_price")
        .withColumn("low_price", $"close_price")
        .withColumn("volume", lit(1L))
      val u = DailyAnalytics.sortinoRatio(
        DailyAnalytics.dailyReturns(up), minDays = 2).collect().head
      assert(u.isNullAt(u.fieldIndex("sortino_annual")))
    }
  }

  describe("factorIC") {
    it("scores IC = 1 when momentum ranks perfectly predict forward returns") {
      // three symbols over 4 days: day-3 momentum (lag 2) and the
      // day-4 forward return sit on one line (fwd = 10 + mom/4), so
      // the cross-sectional Pearson correlation is exactly 1
      def sym(s: String, closes: Seq[Double]) =
        closes.zipWithIndex.map { case (c, i) => (s, s"2024-01-0${i + 1}", c) }
      val panel = (sym("A", Seq(10.0, 10.0, 10.0, 11.0)) ++   // mom 0%,  fwd +10%
        sym("B", Seq(10.0, 10.0, 12.0, 13.8)) ++              // mom 20%, fwd +15%
        sym("C", Seq(10.0, 10.0, 13.0, 15.275)))              // mom 30%, fwd +17.5%
        .toDF("symbol", "ds", "close_price")
        .withColumn("trade_date", to_date($"ds")).drop("ds")
        .withColumn("open_price", $"close_price")
        .withColumn("high_price", $"close_price")
        .withColumn("low_price", $"close_price")
        .withColumn("volume", lit(1L))
      val ic = DailyAnalytics.factorIC(panel, lagDays = 2, minSymbols = 3)
        .collect()
      // only day 3 carries both a 2-day momentum and a forward return
      assert(ic.length == 1)
      assert(ic.head.getAs[Long]("n_symbols") == 3L)
      assert(ic.head.getAs[Double]("ic") == 1.0)
    }
  }

  describe("conformalIntervals") {
    it("90% conformal radius covers near-nominally on real bars") {
      val got = DailyAnalytics.conformalIntervals(
        DailyAnalytics.dailyReturns(
          Adapters.dailyBars(spark, "/root/testdata/sf0.001")))
        .collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        assert(r.getAs[Double]("qhat") >= 0.0)
        assert(r.getAs[Long]("n_covered") <= r.getAs[Long]("n_eval"))
      }
      // exchangeable scores => per-symbol coverage concentrates near
      // the 0.9 target; the MEAN across symbols is a tight statistic
      val mean = got.map(_.getAs[Double]("coverage")).sum / got.length
      assert(mean > 0.8 && mean <= 1.0, s"mean coverage $mean")
    }
    it("qhat is the clamped (n_cal+1)*0.9 order statistic on a hand series") {
      // one symbol, 9 days: scores need return AND lagged return, so
      // scored rows are row_nums 3..9; calibration = even (4,6,8) = 3
      // rows, eval = odd (3,5,7,9) = 4 rows, k = least(ceil(4*0.9), 3)
      // = 3 => qhat = max calibration score
      val days = (1 to 9).map(d => ("A", f"2024-01-$d%02d", 10.0 + d * (d % 3), 100L))
      val df = days.toDF("symbol", "ds", "close_price", "volume")
        .withColumn("trade_date", to_date($"ds"))
        .withColumn("open_price", $"close_price")
        .withColumn("high_price", $"close_price")
        .withColumn("low_price", $"close_price")
        .drop("ds")
      val returns = DailyAnalytics.dailyReturns(df)
      val got = DailyAnalytics.conformalIntervals(returns).collect()
      assert(got.length == 1)
      assert(got.head.getAs[Long]("n_cal") == 3L)
      assert(got.head.getAs[Long]("n_eval") == 4L)
    }
  }

  describe("seasonalDecompose") {
    it("the additive identity holds to the rounding on real bars") {
      val got = DailyAnalytics.seasonalDecompose(
        DailyAnalytics.dailyReturns(
          Adapters.dailyBars(spark, "/root/testdata/sf0.001")))
      assert(got.count() > 0)
      val bad = got.filter(
        abs($"value" - ($"trend" + $"seasonal" + $"residual")) > 3e-4)
      assert(bad.isEmpty, bad.take(3).mkString("; "))
    }
  }

  describe("ksTwoSample") {
    it("disjoint distributions hit d=1 and reject; shared ones do not") {
      def series(sym: String, v: Double) = (0 until 5).map(i =>
        (sym, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), v))
      val disjoint = (series("A", 1.0) ++ series("B", 3.0))
        .toDF("symbol", "trade_date", "daily_return_pct")
      val d1 = DailyAnalytics.ksTwoSample(disjoint).collect().head
      assert(d1.getAs[Double]("d_stat") == 1.0)
      assert(d1.getAs[Boolean]("reject_95"))
      val same = (series("A", 1.0) ++ series("B", 1.0))
        .toDF("symbol", "trade_date", "daily_return_pct")
      val d2 = DailyAnalytics.ksTwoSample(same).collect().head
      assert(d2.getAs[Double]("d_stat") == 0.0)
      assert(!d2.getAs[Boolean]("reject_95"))
    }
  }

  describe("aroon") {
    it("packed-key argmax finds the extreme age, ties resolve most-recent") {
      // 30 days: high peaks on day index 27 (1-based rn 28); lows
      // constant (tie) -> since_low = 0 every day (most recent)
      val rows = (0 until 30).map { i =>
        val d = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
        val h = if (i == 27) 50.0 else 20.0
        ("A", d, h, 10.0, h, h, 100L)
      }.toDF("symbol", "trade_date", "open_price", "low_price",
        "high_price", "close_price", "volume")
      val got = DailyAnalytics.aroon(rows).orderBy("trade_date").collect()
      // rows emitted from rn 26 (full windows): days 26..30
      assert(got.length == 5)
      got.foreach(r => assert(r.getAs[Long]("since_low") == 0L &&
        r.getAs[Double]("aroon_down") == 100.0))
      val last = got.last // rn 30: high was at rn 28 -> since_high 2
      assert(last.getAs[Long]("since_high") == 2L)
      assert(last.getAs[Double]("aroon_up") == 92.0) // 4*(25-2)
      val first = got.head // rn 26: peak not yet in window; tie -> most recent
      assert(first.getAs[Long]("since_high") == 0L)
    }
  }

  describe("forecastMase") {
    it("alternating returns give the closed-form 0.6 MASE for SMA-5") {
      // x = ±1%: naive error is 2 per step; the 5-day trailing sum is
      // always -x, so |5x - S5| = 6 -> MASE = 6/(5*2) = 0.6
      val rows = (0 until 20).map(i =>
        ("A", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          if (i % 2 == 0) 1.0 else -1.0))
      val got = DailyAnalytics.forecastMase(
        rows.toDF("symbol", "trade_date", "daily_return_pct")).collect().head
      assert(got.getAs[Long]("n_eval") == 15L)
      assert(got.getAs[Double]("mae_naive") == 2.0)
      assert(got.getAs[Double]("mae_sma") == 1.2)
      assert(got.getAs[Double]("mase") == 0.6)
    }
  }

  describe("minVariancePair") {
    it("a perfect hedge pair gets w=0.5 and zero portfolio variance") {
      val rows = (0 until 12).flatMap { i =>
        val d = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
        val x = if (i % 3 == 0) 2.0 else -1.0
        Seq(("A", d, x), ("B", d, -x))
      }
      val got = DailyAnalytics.minVariancePair(
        rows.toDF("symbol", "trade_date", "daily_return_pct")).collect().head
      assert(got.getAs[String]("sym_a") == "A" && got.getAs[String]("sym_b") == "B")
      assert(got.getAs[Double]("w_a") == 0.5)
      assert(got.getAs[Double]("port_var") == 0.0)
      assert(got.getAs[Double]("cov_ab") == -got.getAs[Double]("var_a"))
    }
  }

  describe("drawdownDuration") {
    it("islands the underwater runs and picks the longest with dates") {
      val closes = Seq(10.0, 9.0, 8.0, 10.0, 11.0, 10.0)
      val rows = closes.zipWithIndex.map { case (c, i) =>
        ("A", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), c)
      }
      val got = DailyAnalytics.drawdownDuration(
        rows.toDF("symbol", "trade_date", "close_price")).collect().head
      assert(got.getAs[Long]("n_days") == 6L)
      assert(got.getAs[Long]("n_underwater") == 3L)
      assert(got.getAs[Long]("longest_dd_days") == 2L)
      assert(got.getAs[java.sql.Date]("dd_start").toString == "2024-01-02")
      assert(got.getAs[java.sql.Date]("dd_end").toString == "2024-01-03")
    }
    it("a monotone series reports zero underwater days and null dates") {
      val rows = (0 until 4).map(i =>
        ("A", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          10.0 + i))
      val got = DailyAnalytics.drawdownDuration(
        rows.toDF("symbol", "trade_date", "close_price")).collect().head
      assert(got.getAs[Long]("n_underwater") == 0L)
      assert(got.getAs[Long]("longest_dd_days") == 0L)
      assert(got.isNullAt(got.fieldIndex("dd_start")))
    }
  }

  describe("cusumChangepoint") {
    it("finds the exact shift day of a step series with both segment means") {
      // returns: four days at +1%, then four at +3% -> CUSUM peaks at
      // the last low day (day 4); means 1.0 / 3.0 either side
      val rows = (0 until 8).map { i =>
        ("A", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          if (i < 4) 1.0 else 3.0)
      }
      val got = DailyAnalytics.cusumChangepoint(
        rows.toDF("symbol", "trade_date", "daily_return_pct")).collect()
      assert(got.length == 1)
      val r = got.head
      assert(r.getAs[Int]("cp_index") == 4)
      assert(r.getAs[java.sql.Date]("cp_date").toString == "2024-01-04")
      assert(r.getAs[Double]("mean_before") == 1.0)
      assert(r.getAs[Double]("mean_after") == 3.0)
      // peak magnitude: at i=4, C=4e4, n=8, Sx=16e4 -> dev = 8*4e4-4*16e4
      // = -32e4, /n /1e4 = -4.0 (negative: mean shifts UP after the cp)
      assert(r.getAs[Double]("cusum_peak") == -4.0)
    }
  }

  describe("hurstExponent") {
    def r4d(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

    it("alternating +1/-1 returns give the closed-form R/S and H near 0") {
      // x = ±10000 (4-dp scaled ±1%): every w-block has Sx = 0,
      // dev = w*C_i in {w*10000, 0} => R = 10000; S = sqrt(w*Sxx/(w(w-1)))
      // => R/S = sqrt((w-1)/w), identical for every block, and the
      // block average is exact (power-of-2 block counts)
      val rows = (0 until 64).map { i =>
        ("A", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          if (i % 2 == 0) 1.0 else -1.0)
      }
      val returns = rows.toDF("symbol", "trade_date", "daily_return_pct")
      val got = DailyAnalytics.hurstExponent(returns).collect()
      assert(got.length == 1)
      def expectedRs(w: Int) = r4d(r6d(
        (w * 10000.0 / w) / math.sqrt(w * w * 1e8 / (w * (w - 1)))))
      assert(got.head.getAs[Double]("rs_8") == expectedRs(8))
      assert(got.head.getAs[Double]("rs_16") == expectedRs(16))
      assert(got.head.getAs[Double]("rs_32") == expectedRs(32))
      // strongly mean-reverting: H far below the 0.5 random-walk line
      assert(got.head.getAs[Double]("hurst") < 0.1)
    }
    it("real bars give H in a sane band with rs growing in w") {
      val got = DailyAnalytics.hurstExponent(
        DailyAnalytics.dailyReturns(
          Adapters.dailyBars(spark, "/root/testdata/sf0.001")))
        .collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        assert(r.getAs[Double]("rs_32") > r.getAs[Double]("rs_8"))
        val h = r.getAs[Double]("hurst")
        assert(h > 0.0 && h < 1.0, s"hurst $h out of band")
      }
    }
  }

  describe("mannWhitneySplit") {
    it("matches the hand-computed U and z for a clean half-shift") {
      // first half {1,2,3,4}%, second half {10,20,30,40}%: every
      // first-half return ranks below every second-half one, so
      // R1 = 1+2+3+4, U1 = 0, AUC = 0, z = -16/(2*sqrt(16/3*9))
      val rows = (1 to 8).map { i =>
        val r = if (i <= 4) i.toDouble else i * 10.0 - 40.0
        ("A", f"2024-01-$i%02d", r)
      }
      val got = DailyAnalytics.mannWhitneySplit(
        rows.toDF("symbol", "trade_date", "daily_return_pct"), minDays = 4)
        .collect()
      assert(got.length == 1)
      val r = got.head
      assert(r.getAs[Long]("n1") == 4 && r.getAs[Long]("n2") == 4)
      assert(r.getAs[Long]("u2") == 0)
      assert(r.getAs[Double]("auc") == 0.0)
      assert(r.getAs[Double]("z") == -1.1547)
    }
    it("all-tied values give AUC 1/2 and a NULL z, not a crash") {
      val rows = (1 to 8).map(i => ("A", f"2024-01-$i%02d", 5.0))
      val got = DailyAnalytics.mannWhitneySplit(
        rows.toDF("symbol", "trade_date", "daily_return_pct"), minDays = 4)
        .collect().head
      assert(got.getAs[Double]("auc") == 0.5)
      assert(got.isNullAt(got.fieldIndex("z")))
    }
  }

  describe("varianceRatio") {
    it("flags persistent runs as trending and alternation as mean-reverting") {
      // runs of 10 equal increments → q-period sums concentrate at the
      // extremes → VR(5) > 1; strict ±1 alternation → adjacent
      // increments cancel inside every 5-window → VR(5) < 1
      def prices(incs: Seq[Int]): Seq[(String, String, Double)] =
        incs.scanLeft(1000)(_ + _).zipWithIndex.map { case (p, i) =>
          ("A", f"2024-${i / 28 + 1}%02d-${i % 28 + 1}%02d", p.toDouble)
        }
      val trendIncs = Seq.tabulate(80)(i => if ((i / 10) % 2 == 0) 1 else 3)
      val revIncs = Seq.tabulate(80)(i => if (i % 2 == 0) 1 else -1)
      def run(rows: Seq[(String, String, Double)]) =
        DailyAnalytics.varianceRatio(
          rows.toDF("symbol", "trade_date", "close_price"), q = 5, minDays = 30)
          .collect().head
      assert(run(prices(trendIncs)).getAs[String]("regime") == "trending")
      assert(run(prices(revIncs)).getAs[String]("regime") == "mean_reverting")
    }
    it("a constant price yields a NULL vr, not a crash") {
      val rows = (1 to 40).map(i => ("A", f"2024-01-$i%02d", 100.0))
      val r = DailyAnalytics.varianceRatio(
        rows.toDF("symbol", "trade_date", "close_price"), q = 5, minDays = 10)
        .collect().head
      assert(r.isNullAt(r.fieldIndex("vr")))
    }
  }

  describe("pageHinkley") {
    it("stays silent on steady returns and alarms on a persistent drop") {
      val steady = (1 to 40).map(i => ("A", f"2024-01-$i%02d", 1.0))
      val s = DailyAnalytics.pageHinkley(
        steady.toDF("symbol", "trade_date", "daily_return_pct")).collect().head
      assert(s.getAs[Long]("max_ph") == 0L && s.getAs[Long]("n_alarm_days") == 0L)

      val shifted = (1 to 40).map { i =>
        ("A", f"2024-01-$i%02d", if (i <= 20) 1.0 else -5.0)
      }
      val r = DailyAnalytics.pageHinkley(
        shifted.toDF("symbol", "trade_date", "daily_return_pct")).collect().head
      assert(r.getAs[Long]("n_alarm_days") > 0L)
      assert(r.getAs[String]("first_alarm_date") > "2024-01-20")
    }
  }

  describe("kendallVsMarket") {
    it("a symbol identical to the market scores tau_b = 1") {
      val rows = for (s <- Seq("A", "B"); i <- 1 to 12)
        yield (s, f"2024-01-$i%02d", Seq(3, 1, 4, 1, 5, 9, 2, 6, 8, 7, 11, 13)(i - 1).toDouble)
      val got = DailyAnalytics.kendallVsMarket(
        rows.toDF("symbol", "trade_date", "daily_return_pct"),
        window = 60, minDays = 4).collect()
      assert(got.nonEmpty)
      got.foreach(r => assert(r.getAs[Double]("tau_b") == 1.0))
    }
    it("an anti-monotone symbol scores tau_b = -1") {
      // B's return is the NEGATION of A's around a shared mean of 0,
      // so the equal-weight market is constant-0 — use B vs a market
      // dominated by 3 copies of A instead
      val rows =
        (for (s <- Seq("A1", "A2", "A3"); i <- 1 to 10)
          yield (s, f"2024-01-$i%02d", i.toDouble)) ++
        (for (i <- 1 to 10) yield ("B", f"2024-01-$i%02d", -i.toDouble))
      val got = DailyAnalytics.kendallVsMarket(
        rows.toDF("symbol", "trade_date", "daily_return_pct"),
        window = 60, minDays = 4)
        .collect().map(r => r.getAs[String]("symbol") -> r.getAs[Double]("tau_b")).toMap
      assert(got("B") == -1.0 && got("A1") == 1.0)
    }
  }

  describe("dimsonBeta") {
    it("a symbol equal to the market loads beta_now = 1, beta_lag = 0") {
      val seq = Seq(3, 1, 4, 1, 5, 9, 2, 6, 8, 7, 11, 13, 2, 4, 6, 1, 8, 3, 5, 7,
        9, 2, 12, 4, 6, 8, 1, 3, 5, 7, 10, 2)
      val rows = for (s <- Seq("A", "B"); i <- seq.indices)
        yield (s, f"2024-${i / 28 + 1}%02d-${i % 28 + 1}%02d", seq(i).toDouble)
      val got = DailyAnalytics.dimsonBeta(
        rows.toDF("symbol", "trade_date", "daily_return_pct"), minDays = 10)
        .collect()
      assert(got.length == 2)
      got.foreach { r =>
        assert(r.getAs[Double]("beta_now") == 1.0)
        assert(r.getAs[Double]("beta_lag") == 0.0)
        assert(r.getAs[Double]("beta_sum") == 1.0)
        assert(r.getAs[Double]("alpha") == 0.0)
      }
    }
  }

  describe("rollSpread") {
    it("bid-ask bounce yields a negative autocovariance and a spread; a drift does not") {
      val bounce = (1 to 40).map(i =>
        ("A", f"2024-01-$i%02d", if (i % 2 == 0) 101.0 else 100.0))
      val r = DailyAnalytics.rollSpread(
        bounce.toDF("symbol", "trade_date", "close_price"), minDays = 10)
        .collect().head
      assert(r.getAs[Double]("autocov") < 0.0)
      assert(r.getAs[Double]("spread") > 1.9 && r.getAs[Double]("spread") < 2.1)

      val drift = (1 to 40).map(i => ("A", f"2024-01-$i%02d", 100.0 + i))
      val d = DailyAnalytics.rollSpread(
        drift.toDF("symbol", "trade_date", "close_price"), minDays = 10)
        .collect().head
      assert(d.isNullAt(d.fieldIndex("spread")))
    }
  }

  describe("rangeVolatility") {
    it("a flat bar has zero range volatility; a ranging bar does not") {
      val flat = (1 to 35).map(i => ("A", f"2024-01-$i%02d", 100.0, 100.0, 100.0, 100.0))
      val df = flat.toDF("symbol", "trade_date", "open_price", "high_price",
        "low_price", "close_price")
      val r = DailyAnalytics.rangeVolatility(df, minDays = 10).collect().head
      assert(r.getAs[Double]("vol_parkinson") == 0.0)
      assert(r.getAs[Double]("vol_garman_klass") == 0.0)
      assert(r.getAs[Double]("vol_rogers_satchell") == 0.0)

      val ranging = (1 to 35).map(i =>
        ("A", f"2024-01-$i%02d", 100.0, 110.0, 95.0, 102.0))
      val v = DailyAnalytics.rangeVolatility(
        ranging.toDF("symbol", "trade_date", "open_price", "high_price",
          "low_price", "close_price"), minDays = 10).collect().head
      assert(v.getAs[Double]("vol_parkinson") > 0.0)
      assert(v.getAs[Double]("vol_rogers_satchell") > 0.0)
    }
  }

  describe("trackingError") {
    it("a symbol identical to the market has TE 0 and a NULL IR") {
      val rows = for (s <- Seq("A", "B"); i <- 1 to 35)
        yield (s, f"2024-01-$i%02d", (i % 5).toDouble)
      val got = DailyAnalytics.trackingError(
        rows.toDF("symbol", "trade_date", "daily_return_pct"), minDays = 10)
        .collect()
      assert(got.length == 2)
      got.foreach { r =>
        assert(r.getAs[Double]("tracking_error") == 0.0)
        assert(r.isNullAt(r.fieldIndex("info_ratio")))
      }
    }
  }

  describe("dickeyFuller") {
    it("hard mean reversion rejects the unit root; the gamma loads near -2") {
      val rows = (1 to 40).map { i =>
        val base = if (i % 2 == 0) 200.0 else 100.0
        ("A", f"2024-01-$i%02d", base + (i % 4))
      }
      val r = DailyAnalytics.dickeyFuller(
        rows.toDF("symbol", "trade_date", "close_price"), minDays = 10)
        .collect().head
      assert(r.getAs[Double]("gamma") < -1.5)
      assert(r.getAs[Boolean]("reject_unit_root"))
    }
  }

  describe("spearmanVsMarket") {
    it("a symbol identical to the market scores rho = 1") {
      // two identical symbols: the equal-weight index IS each series
      val rows = for (s <- Seq("A", "B"); i <- 1 to 5)
        yield (s, f"2024-01-$i%02d", i.toDouble)
      val got = DailyAnalytics.spearmanVsMarket(
        rows.toDF("symbol", "trade_date", "daily_return_pct"), minDays = 5)
        .collect()
      assert(got.length == 2)
      got.foreach(r => assert(r.getAs[Double]("rho") == 1.0))
    }
    it("a monotone but non-linear tracker still scores rho = 1 (where beta would not)") {
      // symbol B = cube of symbol A's return: same ranks, rho = 1
      val rows = (1 to 6).flatMap { i =>
        Seq(("A", f"2024-01-$i%02d", i.toDouble),
            ("B", f"2024-01-$i%02d", i * i * i / 10.0))
      }
      val got = DailyAnalytics.spearmanVsMarket(
        rows.toDF("symbol", "trade_date", "daily_return_pct"), minDays = 6)
        .collect()
      got.foreach(r => assert(r.getAs[Double]("rho") == 1.0,
        s"${r.getAs[String]("symbol")} rho ${r.getAs[Double]("rho")}"))
    }
  }

  describe("theilSenTrend") {
    it("recovers an exact linear trend and shrugs off one outlier") {
      // p = 100 + 2*day dollars, with day 6 corrupted: 45 of 55 pair
      // slopes are untouched, so the median slope stays 2.00 and the
      // median residual stays 100.00
      val rows = (1 to 11).map { i =>
        val p = if (i == 6) 500.0 else 100.0 + 2.0 * i
        ("A", f"2024-01-$i%02d", p)
      }
      val got = DailyAnalytics.theilSenTrend(
        rows.toDF("symbol", "trade_date", "close_price"), window = 60, minDays = 10)
        .collect()
      assert(got.length == 1)
      val r = got.head
      assert(r.getAs[Long]("n_days") == 11 && r.getAs[Long]("n_pairs") == 55)
      assert(r.getAs[Double]("slope") == 2.0, s"slope ${r.getAs[Double]("slope")}")
      assert(r.getAs[Double]("intercept") == 100.0)
    }
    it("windows to the LAST n bars (early history ignored)") {
      // 70 bars: first 10 flat at 500, last 60 exactly linear — the
      // 60-bar window must see only the linear tail
      val rows = (1 to 70).map { i =>
        val p = if (i <= 10) 500.0 else 10.0 + 1.5 * (i - 10)
        ("A", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)).toString, p)
      }
      val got = DailyAnalytics.theilSenTrend(
        rows.toDF("symbol", "trade_date", "close_price")).collect().head
      assert(got.getAs[Long]("n_days") == 60)
      assert(got.getAs[Double]("slope") == 1.5)
    }
  }

  describe("cointegrationAdjacent") {
    it("a shared random walk with a stationary spread cointegrates; independent trends do not") {
      val base = Seq(100, 102, 99, 104, 101, 107, 103, 110, 106, 112,
        108, 115, 111, 118, 113, 120, 116, 123, 119, 125,
        121, 128, 124, 131, 127, 133, 129, 136, 132, 138,
        134, 141, 137, 144, 140, 146)
      // B = 2*A + alternating ±1 bounce: the spread is stationary
      val rows =
        base.zipWithIndex.map { case (p, i) =>
          ("A", f"2024-${i / 28 + 1}%02d-${i % 28 + 1}%02d", p.toDouble) } ++
        base.zipWithIndex.map { case (p, i) =>
          ("B", f"2024-${i / 28 + 1}%02d-${i % 28 + 1}%02d",
            2.0 * p + (if (i % 2 == 0) 1.0 else -1.0)) }
      val got = DailyAnalytics.cointegrationAdjacent(
        rows.toDF("symbol", "trade_date", "close_price"), minDays = 10)
        .collect()
      assert(got.length == 1)
      val r = got.head
      assert(r.getAs[String]("s1") == "A" && r.getAs[String]("s2") == "B")
      assert(math.abs(r.getAs[Double]("beta") - 2.0) < 0.05)
      assert(r.getAs[Boolean]("cointegrated"), s"t=${r.getAs[Double]("t_stat")}")
    }
  }

  describe("econometrics lane (round 13)") {
    def rets(rows: Seq[(String, Int, Double)]) =
      rows.map { case (s, i, r) =>
        (s, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), r)
      }.toDF("symbol", "trade_date", "daily_return_pct")

    it("ljungBox: alternating series has rho_1 near -1 and a huge Q; rhos stay in [-1,1]") {
      val alt = rets((0 until 60).map(i => ("A", i, if (i % 2 == 0) 1.0 else -1.0)))
      val r = DailyAnalytics.ljungBox(alt, maxLag = 5, minDays = 30).collect().head
      assert(r.getAs[Long]("n_days") == 60)
      assert(r.getAs[Double]("rho_1") < -0.9)
      (1 to 5).foreach { k =>
        val rho = r.getAs[Double](s"rho_$k")
        assert(rho >= -1.0001 && rho <= 1.0001, s"rho_$k=$rho") }
      assert(r.getAs[Double]("q_stat") > 100.0)
    }

    it("ewmaVolatility: a constant-return series reproduces |r| exactly") {
      val const = rets((0 until 40).map(i => ("A", i, 2.5)))
      val r = DailyAnalytics.ewmaVolatility(const, minDays = 30).collect().head
      // v_1 = yq², v_{t} = (94v + 6v) div 100 = v → vol = yq/100 = 2.5
      assert(r.getAs[Double]("ewma_vol_pct") == 2.5)
    }

    it("grangerAdjacent: a lag-1 copy with a wiggle flags causality with coef ~1") {
      def x(i: Int) = (i * 37 % 11 - 5).toDouble // deterministic pseudo-noise
      val rows = (0 until 60).flatMap { i =>
        Seq(("A", i, x(i - 1) + 0.01 * (i % 3)), // A_t ≈ B_{t-1}
            ("B", i, x(i)))
      }
      val r = DailyAnalytics.grangerAdjacent(rets(rows), minDays = 30).collect().head
      assert(r.getAs[String]("s1") == "A" && r.getAs[String]("s2") == "B")
      assert(math.abs(r.getAs[Double]("cross_coef") - 1.0) < 0.01)
      assert(r.getAs[Boolean]("granger_sig"), s"f=${r.getAs[Double]("f_stat")}")
    }

    it("chowBreak: a midpoint regime flip trips the break; a pure trend does not") {
      def wig(i: Int) = 0.05 * (i % 5 - 2) // small noise so SSRs are nonzero
      val rows =
        (0 until 60).map(i => ("FLIP", i, (if (i < 30) 1.0 else -1.0) + wig(i))) ++
        (0 until 60).map(i => ("TREND", i, 0.1 * i + wig(i)))
      val got = DailyAnalytics.chowBreak(rets(rows), minDays = 30)
        .collect().map(r => r.getAs[String]("symbol") -> r).toMap
      assert(got("FLIP").getAs[Boolean]("break_sig"),
        s"f=${got("FLIP").getAs[Double]("f_stat")}")
      assert(!got("TREND").getAs[Boolean]("break_sig"),
        s"f=${got("TREND").getAs[Double]("f_stat")}")
      assert(got("FLIP").getAs[Long]("n_pre") == 30 &&
        got("FLIP").getAs[Long]("n_post") == 30)
    }

    it("garchFilter: a constant-|return| series is a fixed point at the long-run vol") {
      // q_t ≡ q ⇒ vbar = q and (2q + 6q + 92q) div 100 = q forever
      val const = rets((0 until 40).map(i => ("A", i, if (i % 2 == 0) 2.5 else -2.5)))
      val r = DailyAnalytics.garchFilter(const, minDays = 30).collect().head
      assert(r.getAs[Double]("long_run_vol_pct") == 2.5)
      assert(r.getAs[Double]("garch_vol_pct") == 2.5)
    }

    it("garchFilter: after a vol burst the filter sits between EWMA decay and the target") {
      val rows = (0 until 60).map(i =>
        ("A", i, if (i >= 28 && i < 32) 8.0 else 1.0)) // 4-day burst mid-panel
      val r = DailyAnalytics.garchFilter(rets(rows), minDays = 30).collect().head
      val lr = r.getAs[Double]("long_run_vol_pct")
      val gv = r.getAs[Double]("garch_vol_pct")
      // post-burst the recursion decays toward the CONSTANT-INPUT fixed
      // point v* = (2·v̄ + 6·q_low)/8 (=20500 here → 1.43%), which sits
      // BELOW v̄ because current energy < mean energy; 28 days of
      // 0.92^t leave it elevated above v* but already under v̄
      assert(gv > 1.45 && gv < lr, s"garch $gv vs long-run $lr")
    }

    it("holtLinear: an exact linear price ramp is tracked with zero one-step error") {
      val rows = (0 until 40).map(i => ("A", i, 100.0 + 10.0 * i))
      val b = rows.map { case (s, i, c) =>
        (s, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          c, c, c, c, 10L)
      }.toDF("symbol", "trade_date", "open_price", "high_price", "low_price",
        "close_price", "volume")
      val r = DailyAnalytics.holtLinear(b, minDays = 30).collect().head
      // l_t = y_t, b_t = 1000 (scale-2) at every step: the ramp is the
      // filter's fixed point, so MAE = 0 and the forecast extrapolates
      assert(r.getAs[Double]("level") == 100.0 + 10.0 * 39)
      assert(r.getAs[Double]("trend_per_day") == 10.0)
      assert(r.getAs[Double]("forecast_5d") == 100.0 + 10.0 * 44)
      assert(r.getAs[Double]("one_step_mae") == 0.0)
    }

    it("jarqueBera: a symmetric two-point series has skew 0, kurt 1, JB = n/6") {
      val rows = (0 until 42).map(i => ("A", i, if (i % 2 == 0) 2.0 else -2.0))
      val r = DailyAnalytics.jarqueBera(rets(rows), minDays = 30).collect().head
      assert(r.getAs[Double]("skewness") == 0.0)
      assert(r.getAs[Double]("kurtosis") == 1.0)
      // JB = n/6 · (0 + (1−3)²/4) = n/6 = 7 > 5.99 ⇒ rejected
      assert(r.getAs[Double]("jb_stat") == 7.0)
      assert(r.getAs[Boolean]("normal_rej"))
    }

    it("leadLagAdjacent: a lag-1 copy puts |rho|≈1 at k=+1 and best_lag=1") {
      def x(i: Int) = (i * 37 % 11 - 5).toDouble
      val rows = (0 until 60).flatMap { i =>
        Seq(("A", i, x(i - 1)), ("B", i, x(i))) // A_t = B_{t-1}: B leads A
      }
      val r = DailyAnalytics.leadLagAdjacent(rets(rows), minDays = 30).collect().head
      assert(r.getAs[String]("s1") == "A" && r.getAs[String]("s2") == "B")
      assert(r.getAs[Int]("best_lag") == 1)
      assert(math.abs(r.getAs[Double]("rho_p1") - 1.0) < 1e-9)
      assert(math.abs(r.getAs[Double]("best_rho") - 1.0) < 1e-9)
      assert(math.abs(r.getAs[Double]("rho_0")) < 0.6)
    }

    it("neweyWest: positive autocorrelation widens the HAC se vs the naive se") {
      // four-day persistent blocks: ++++−−−−… ⇒ γ1 ≈ +2, γ2 ≈ 0
      // (a ±2-day block design would give γ1=0, γ2=−4 and SHRINK the se)
      val rows = (0 until 64).map(i =>
        ("A", i, 1.0 + (if (i % 8 < 4) 2.0 else -2.0)))
      val r = DailyAnalytics.neweyWest(rets(rows), minDays = 40).collect().head
      assert(r.getAs[Double]("mean_return_pct") == 1.0)
      val se = r.getAs[Double]("hac_se_pct")
      val n = r.getAs[Long]("n_days").toDouble
      val naive = 2.0 / math.sqrt(n) // sd = 2 exactly for the block design
      assert(se > naive, s"HAC se $se should exceed naive ${naive}")
      assert(r.getAs[Double]("t_stat") > 0.0)
    }

    it("runsTest: a perfectly alternating sign sequence maximizes the runs z") {
      val rows = (0 until 60).map(i => ("A", i, if (i % 2 == 0) 1.0 else -1.0))
      val r = DailyAnalytics.runsTest(rets(rows), minDays = 40).collect().head
      assert(r.getAs[Long]("n_pos") == 30 && r.getAs[Long]("n_neg") == 30)
      assert(r.getAs[Long]("n_runs") == 60) // every step flips
      // z = (60 − 31)/sqrt(14.7458…) = 7.55…
      assert(r.getAs[Double]("z_stat") > 5.0)
      assert(r.getAs[Boolean]("random_rej"))
    }

    it("runsTest: zeros drop before runs are counted") {
      // +,0,+,0,… never flips once zeros are removed: one run
      val rows = (0 until 80).map(i => ("A", i, if (i % 2 == 0) 1.0 else 0.0))
      val r = DailyAnalytics.runsTest(rets(rows), minDays = 40).collect().head
      assert(r.getAs[Long]("n_days") == 40 && r.getAs[Long]("n_runs") == 1)
    }

    it("upDownBeta: a symbol that amplifies only rallies splits the betas exactly") {
      // d cycles ±{1,2,3}; A = 3d on up days / d on down, B = d always
      // ⇒ market = 2d (up) / d (down); A: β⁺=1.5, β⁻=1; B: β⁺=0.5, β⁻=1
      val rows = (0 until 60).flatMap { i =>
        val mag = (i % 3 + 1).toDouble
        val d = if (i % 2 == 0) mag else -mag
        Seq(("A", i, if (d > 0) 3 * d else d), ("B", i, d))
      }
      val got = DailyAnalytics.upDownBeta(rets(rows), minSide = 10)
        .collect().map(r => r.getAs[String]("symbol") -> r).toMap
      assert(got("A").getAs[Double]("beta_up") == 1.5)
      assert(got("A").getAs[Double]("beta_down") == 1.0)
      assert(got("A").getAs[Double]("capture_ratio") == 1.5)
      assert(got("B").getAs[Double]("beta_up") == 0.5)
      assert(got("B").getAs[Double]("capture_ratio") == 0.5)
    }

    it("woeIv: terms are individually non-negative and the total is their sum") {
      def x(s: Int, i: Int) = ((i * 37 + s * 13) % 11 - 5).toDouble
      val rows = for (s <- 0 until 10; i <- 0 until 40)
        yield (s"S$s", i, x(s, i) + 0.1)
      val out = DailyAnalytics.woeIv(rets(rows)).collect()
      assert(out.map(_.getAs[Int]("decile")).sorted.toSeq == (1 to 10))
      // (p−q) and ln(p/q) share sign ⇒ every IV term ≥ 0
      out.foreach { r =>
        val t = r.getAs[Double]("iv_term")
        assert(t >= 0.0, s"decile ${r.getAs[Int]("decile")} term $t")
      }
      val total = out.head.getAs[Double]("iv_total")
      assert(out.forall(_.getAs[Double]("iv_total") == total))
      assert(math.abs(out.map(_.getAs[Double]("iv_term")).sum - total) < 1e-3)
      assert(total >= 0.0)
    }

    it("omegaRatio: hand-checked gain/loss sums; an all-gain series has null omega") {
      val rows = (0 until 30).map(i => ("A", i, Seq(2.0, -1.0, 0.5)(i % 3))) ++
        (0 until 30).map(i => ("B", i, 1.0))
      val got = DailyAnalytics.omegaRatio(rets(rows), minDays = 30)
        .collect().map(r => r.getAs[String]("symbol") -> r).toMap
      // A: gains 10·(2+0.5) = 25, losses 10·1 = 10 ⇒ ω = 2.5
      assert(got("A").getAs[Double]("sum_gains_pct") == 25.0)
      assert(got("A").getAs[Double]("sum_losses_pct") == 10.0)
      assert(got("A").getAs[Double]("omega") == 2.5)
      assert(got("B").isNullAt(got("B").fieldIndex("omega")))
    }

    it("calmarRatio and ulcerIndex: a single 20% dip prices both drawdown ratios") {
      // close: 100 → (dip to 80 for days 10..19) → back to 100
      val bars = (0 until 40).map { i =>
        val c = if (i >= 10 && i < 20) 80.0 else 100.0
        ("A", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i)),
          c, c, c, c, 10L)
      }.toDF("symbol", "trade_date", "open_price", "high_price", "low_price",
        "close_price", "volume")
      val ret = DailyAnalytics.dailyReturns(bars)
      val cal = DailyAnalytics.calmarRatio(ret, minDays = 30).collect().head
      assert(cal.getAs[Double]("max_drawdown_pct") == -20.0)
      val ui = DailyAnalytics.ulcerIndex(ret, minDays = 30).collect().head
      // 10 of 39 counted days sit at −20%: UI = sqrt(10·400/39) = 10.1274
      assert(ui.getAs[Double]("ulcer_index") == 10.1274)
    }

    it("ouHalflife math: theta and half-life invert the AR(1) decay") {
      // pure arithmetic identity check on the compose formula
      val gamma = -0.1
      val hl = -math.log(2.0) / math.log(1.0 + gamma)
      assert(math.abs(math.pow(1.0 + gamma, hl) - 0.5) < 1e-12)
    }
  }

  describe("durbinWatson") {
    def series(rets: Seq[Double]): org.apache.spark.sql.DataFrame =
      rets.zipWithIndex.map { case (r, i) =>
        ("A", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), r)
      }.toDF("symbol", "trade_date", "daily_return_pct")

    it("a perfectly alternating series drives DW toward 4") {
      val alt = series((0 until 40).map(i => if (i % 2 == 0) 1.0 else -1.0))
      val dw = DailyAnalytics.durbinWatson(alt, minDays = 30).collect().head
      // Δy = ±2 for 39 steps; DW = 39·4·n² / (n²·Σy²−n(Σy)²) ≈ 3.9
      assert(dw.getAs[Double]("dw_stat") > 3.8)
      assert(!dw.getAs[Boolean]("positive_autocorr"))
    }
    it("a slow sign-held random-walk-ish series drives DW toward 0") {
      // long runs of identical values: Δy = 0 inside runs
      val runs = series((0 until 40).map(i => if (i < 20) 1.0 else -1.0))
      val dw = DailyAnalytics.durbinWatson(runs, minDays = 30).collect().head
      assert(dw.getAs[Double]("dw_stat") < 0.5)
      assert(dw.getAs[Boolean]("positive_autocorr"))
    }
  }

  describe("saxWords") {
    it("a monotone close series symbolizes to the ascending word") {
      val bars = (0 until 32).map { i =>
        ("A", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          10.0 + i, 10.0 + i, 10.0 + i, 10.0 + i, 10L)
      }.toDF("symbol", "trade_date", "open_price", "high_price", "low_price",
        "close_price", "volume")
      val w = DailyAnalytics.saxWords(bars, minDays = 30).collect().head
      assert(w.getAs[String]("sax_word") == "aabbccdd") // 8 segs, 4 letters
      assert(w.getAs[Long]("n_days") == 32L)
    }
  }

  describe("quantileNormalize") {
    it("equal-length symbols end with identical sorted distributions") {
      val rets = Seq(
        ("A", 1, 5.0), ("A", 2, -3.0), ("A", 3, 1.0), ("A", 4, 9.0),
        ("B", 1, 100.0), ("B", 2, 0.0), ("B", 3, -50.0), ("B", 4, 2.0))
        .map { case (s, d, r) =>
          (s, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, d)), r) }
        .toDF("symbol", "trade_date", "daily_return_pct")
      val qn = DailyAnalytics.quantileNormalize(rets)
      val bySym = qn.collect().groupBy(_.getAs[String]("symbol"))
        .view.mapValues(_.map(_.getAs[Double]("qn_return_pct")).sorted.toSeq)
      assert(bySym("A") == bySym("B"))
      // rank-1 mean: trunc((−30000 + −500000)/2)/1e4 = −26.5
      assert(bySym("A").head == -26.5)
    }
  }
}
