package graft

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import graft.operators._

/** Operators must degrade to empty output (not errors) on empty input —
  * at 100 TB some partition, day, or symbol will always be empty. */
class EmptyInputSpec extends AnyFunSpec {
  import SharedSpark.spark
  import spark.implicits._

  private lazy val emptyBars = Seq.empty[(Long, java.sql.Date, Double, Double, Double, Double, Long)]
    .toDF("symbol", "trade_date", "open_price", "high_price", "low_price", "close_price", "volume")
  private lazy val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  describe("empty inputs") {
    it("daily analytics chain yields empty marts") {
      val perf = DailyAnalytics.martStockPerformance(emptyBars)
      assert(perf.isEmpty)
      assert(DailyAnalytics.martDailySummary(perf).isEmpty)
    }
    it("dedup operators yield empty pair sets") {
      assert(Dedup.minhashLshPairs(emptyDocs, "doc_id", "text").isEmpty)
      assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text").isEmpty)
      assert(Dedup.simhashPairs(emptyDocs, "doc_id", "text").isEmpty)
      assert(Dedup.minhashSignatures(emptyDocs, "doc_id", "text").isEmpty)
      assert(Dedup.dedupCorpus(emptyDocs, "doc_id", "text").isEmpty)
      assert(TextAnalysis.crossDocDupNgrams(emptyDocs, "doc_id", "text").isEmpty)
      assert(Decontamination.contaminationScores(
        emptyDocs, "doc_id", "text", emptyDocs, "text").isEmpty)
      assert(Decontamination.contaminationScoresBloom(
        emptyDocs, "doc_id", "text", emptyDocs, "text").isEmpty)
    }
    it("docs below the shingle size produce no pairs but don't crash") {
      val tiny = Seq((1L, "one"), (2L, "two words")).toDF("doc_id", "text")
      assert(Dedup.minhashLshPairs(tiny, "doc_id", "text").isEmpty)
      assert(Dedup.ngramJaccardPairs(tiny, "doc_id", "text").isEmpty)
      assert(Dedup.minhashSignatures(tiny, "doc_id", "text").isEmpty)
      // no pairs, so nothing is dropped
      assert(Dedup.dedupCorpus(tiny, "doc_id", "text").count() == 2)
      assert(TextAnalysis.crossDocDupNgrams(tiny, "doc_id", "text").isEmpty)
      assert(Decontamination.contaminationScores(tiny, "doc_id", "text", tiny, "text").isEmpty)
      assert(Decontamination.contaminationScoresBloom(tiny, "doc_id", "text", tiny, "text").isEmpty)
    }
    it("tick analytics on zero ticks") {
      val emptyTicks = Seq.empty[(String, java.sql.Timestamp, Double, Long)]
        .toDF("symbol", "event_time", "price", "volume")
      assert(TickAnalytics.realtimeAnalytics(emptyTicks).isEmpty)
    }
    it("connected components (both forms) label nothing on an empty pair graph") {
      val noPairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
      assert(Dedup.connectedComponentsStar(noPairs, "id1", "id2").isEmpty)
      assert(Dedup.dedupGroups(noPairs).isEmpty)
    }
    it("round-6 operators degrade to empty output on empty input") {
      assert(Dedup.fuzzyEditPairs(emptyDocs, "doc_id", "text").isEmpty)
      assert(Dedup.containmentPairs(emptyDocs, "doc_id", "text").isEmpty)
      assert(TextAnalysis.tfidfTopK(emptyDocs, "doc_id", "text", Seq("spark")).isEmpty)
      assert(TextAnalysis.invertedIndex(emptyDocs, "doc_id", "text").isEmpty)
      assert(DailyAnalytics.madOutliers(DailyAnalytics.dailyReturns(emptyBars)).isEmpty)
      assert(DailyAnalytics.pairCorrelation(
        DailyAnalytics.dailyReturns(emptyBars)).isEmpty)
      val noEvents = Seq.empty[(Long, java.sql.Timestamp, String)]
        .toDF("user_id", "event_time", "event_type")
      assert(Cohorts.cohortRetention(noEvents, "user_id", "event_time").isEmpty)
      assert(Profiling.rateAnomaly(noEvents, "event_type", "event_time").isEmpty)
      assert(Ranking.topKPerGroup(emptyDocs, Seq("text"), Seq($"doc_id".asc), 3).isEmpty)
      assert(Sampling.weightedByHash(emptyDocs, "doc_id", lit(1L), 10L).isEmpty)
      assert(Sampling.capPerKeyTokens(
        Seq.empty[(Long, String, Long)].toDF("doc_id", "source", "n_tok"),
        "source", "doc_id", "n_tok", 100L).isEmpty)
      val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      assert(Similarity.randomProject(noVecs, "vec_id", "embedding").isEmpty)
      assert(Similarity.kmeansRefine(noVecs, "vec_id", "embedding").isEmpty)
    }
    it("round-8 operators degrade to empty output on empty input") {
      val noEdges = Seq.empty[(Long, Long)].toDF("u", "v")
      assert(Graph.triangleCounts(noEdges, "u", "v").isEmpty)
      assert(TextAnalysis.ngramLmCounts(emptyDocs, "doc_id", "text").isEmpty)
      assert(TextAnalysis.vocabCoverage(emptyDocs, "doc_id", "text").isEmpty)
      assert(TextAnalysis.bm25TopK(emptyDocs, "doc_id", "text", Seq("x")).isEmpty)
      assert(TextAnalysis.bigramCommonness(emptyDocs, "doc_id", "text").isEmpty)
      assert(TextAnalysis.hashedLinearScore(emptyDocs, "doc_id", "text").isEmpty)
      assert(TextAnalysis.cooccurrenceLift(emptyDocs, "doc_id", "text").isEmpty)
      assert(TextAnalysis.stripHotShingles(emptyDocs, "doc_id", "text").isEmpty)
      val noRows = Seq.empty[(Long, String, Long)].toDF("k", "s", "n")
      assert(Versioning.snapshotDiff(noRows, noRows, Seq("k"), Seq("s", "n")).isEmpty)
      // one-sided diff: everything in the surviving side is labeled
      val one = Seq((1L, "x", 1L)).toDF("k", "s", "n")
      val added = Versioning.snapshotDiff(noRows, one, Seq("k"), Seq("s", "n"))
        .collect().map(_.getString(1)).toSeq
      assert(added == Seq("added"))
      val noVecs8 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      assert(Similarity.pqTopK(noVecs8, noVecs8, "vec_id", "embedding", k = 3).isEmpty)
    }
    it("round-8 financial analytics degrade to empty output on empty input") {
      val emptyReturns = DailyAnalytics.dailyReturns(emptyBars)
      assert(DailyAnalytics.marketBeta(emptyReturns).isEmpty)
      assert(DailyAnalytics.maxDrawdown(emptyReturns).isEmpty)
      assert(DailyAnalytics.sharpeRatio(emptyReturns).isEmpty)
      assert(DailyAnalytics.resampleOhlc(emptyBars).isEmpty)
      assert(DailyAnalytics.obv(emptyReturns).isEmpty)
      assert(DailyAnalytics.stochastic(emptyBars).isEmpty)
      assert(DailyAnalytics.emaClose(emptyBars).isEmpty)
      assert(DailyAnalytics.macd(emptyBars).isEmpty)
    }
    it("late round-8 operators degrade to empty output on empty input") {
      val emptyReturns = DailyAnalytics.dailyReturns(emptyBars)
      assert(DailyAnalytics.varCvar(emptyReturns).isEmpty)
      assert(DailyAnalytics.autocorrelation(emptyReturns).isEmpty)
      assert(DailyAnalytics.walkForwardSplits(emptyBars).isEmpty)
      assert(DailyAnalytics.calendarFill(emptyBars).isEmpty)
      assert(DailyAnalytics.crossSectionalZ(emptyReturns).isEmpty)
      assert(DailyAnalytics.momentumDeciles(emptyBars).isEmpty)
      assert(TextAnalysis.bpeEncode(emptyDocs, "doc_id", "text").isEmpty)
      val noTicks = Seq.empty[(String, java.sql.Timestamp, Double, Long)]
        .toDF("symbol", "event_time", "price", "volume")
      assert(TickAnalytics.microstructureDaily(noTicks).isEmpty)
      val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      assert(Similarity.quantizeInt8(noVecs, "vec_id", "embedding").isEmpty)
      val noFiles = Seq.empty[(Long, Long, Long, Long)]
        .toDF("file_id", "fmin", "fmax", "n_rows")
      val pr = graft.sources.Layout
        .pruneEstimate(noFiles, "fmin", "fmax", "n_rows", 0.0, 1.0).collect().head
      assert(pr.getAs[Long]("n_files") == 0L && pr.isNullAt(pr.fieldIndex("skip_ratio")))
      // drift with one empty side: defined counts, null score
      val dr = graft.operators.Profiling.distributionDrift(
        noFiles.select(col("n_rows").as("v")),
        Seq(1L, 2L).toDF("v"), col("v"), 0L, 10L, 2).collect().head
      assert(dr.isNullAt(dr.fieldIndex("drift_tvd")))
    }
    it("calendar rolling, sector mart, image decode, z-order write on empty input") {
      assert(DailyAnalytics.calendarRolling(emptyBars).isEmpty)
      val dim = Seq.empty[(Long, String, String)].toDF("symbol", "sector", "market_cap_tier")
      assert(Enrichment.sectorSummary(
        DailyAnalytics.martStockPerformance(emptyBars), dim).isEmpty)
      val noMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
      assert(Multimodal.decodeImageFeatures(noMedia).isEmpty)
      TempDir("graft_empty_z") { out =>
        graft.sources.Layout.zorderWrite(
          emptyBars.select(col("symbol"), col("volume")), "symbol", "volume", s"$out/z", 4)
        assert(spark.read.parquet(s"$out/z").isEmpty)
      }
    }
    it("round-9 operators degrade to empty output on empty input") {
      val emptySrc = Seq.empty[(Long, String)].toDF("doc_id", "source")
      assert(Sampling.temperatureMixture(emptySrc, "doc_id", "source",
        targetRows = 100).isEmpty)
      assert(Profiling.tierSummary(emptyDocs, "text", lit(1L)).isEmpty)
      assert(Profiling.thresholdSweep(emptyDocs, length($"text").cast("long"),
        lit(1L), Seq(0L, 10L)).collect()
        .forall(r => r.getAs[Long]("docs_kept") == 0L)) // thresholds survive, keeps are 0
      assert(DailyAnalytics.decileBacktest(emptyBars).isEmpty)
      val topk = Seq.empty[(Long, Long)].toDF("query_id", "corpus_id")
      assert(graft.operators.Similarity.recallAtK(topk, topk).isEmpty)
      val noSrcDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
      assert(Dedup.dedupReport(noSrcDocs, "doc_id", "text", "source").isEmpty)
      assert(Sketches.distinctSketchByGroup(noSrcDocs, Seq("source"), "doc_id").isEmpty)
      assert(Sketches.quantilesFromSketch(
        Sketches.quantileSketchByGroup(emptySrc, Seq("source"), "doc_id"),
        Seq(0.5)).isEmpty)
    }
    it("round-10 operators degrade to empty output on empty input") {
      val emptyMedia = Seq.empty[(Long, Array[Byte], Int)]
        .toDF("media_id", "payload", "rate")
      assert(Multimodal.toWav(emptyMedia, "rate").isEmpty)
      assert(Multimodal.wavFrameFeatures(emptyMedia).isEmpty)
      val emptyFrames = Seq.empty[(Long, Int, Int, Long, Int)]
        .toDF("media_id", "frame_idx", "n_samples", "energy", "peak")
      assert(Multimodal.energySegments(emptyFrames, 1L).isEmpty)
    }
    it("round-11 operators degrade to empty output on empty input") {
      val emptyRanked = Seq.empty[(Long, Long, Int)]
        .toDF("query_id", "corpus_id", "rank")
      assert(Similarity.rankedEval(emptyRanked, emptyRanked, k = 3).isEmpty)
      assert(Dedup.lshRecallByBand(emptyDocs, "doc_id", "text").isEmpty)
      assert(TextAnalysis.rakeKeywords(emptyDocs, "doc_id", "text").isEmpty)
      val emptyReturns = DailyAnalytics.dailyReturns(emptyBars)
      assert(DailyAnalytics.conformalIntervals(emptyReturns).isEmpty)
      assert(DailyAnalytics.hurstExponent(emptyReturns).isEmpty)
      val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, String, Double)]
        .toDF("user_id", "ts", "event_type", "value")
      assert(Cohorts.cupedLift(emptyEvents, "user_id", "ts", "event_type", "value").isEmpty)
      val emptyQuasi = Seq.empty[(Long, String, String)].toDF("id", "lang", "source")
      // global aggregates yield one row per k over zero classes — the
      // counts must read 0, not throw
      val ka = Profiling.kAnonymity(emptyQuasi, Seq("lang", "source")).collect()
      assert(ka.length == 4 && ka.forall(_.getAs[Long]("n_classes") == 0L))
      // lDiversity's single summary row over zero classes is all-null
      // counts — assert it doesn't throw and carries no classes
      val ld = Profiling.lDiversity(emptyQuasi, Seq("lang", "source"), "id").collect()
      assert(ld.head.getAs[Long]("n_classes") == 0L)
      val emptySrcDocs = Seq.empty[(Long, String, String)]
        .toDF("doc_id", "text", "source")
      // global aggregates produce one row per strategy with 0 batches
      val pe = Packing.paddingEfficiency(emptySrcDocs, "doc_id", "text", "source")
        .collect()
      assert(pe.length == 2 && pe.forall(_.getAs[Long]("n_batches") == 0L))
      val emptyScored = Seq.empty[(Long, Long, Boolean)]
        .toDF("doc_id", "score", "label")
      assert(Profiling.calibrationBins(emptyScored, "doc_id", "score", "label").isEmpty)
      assert(Profiling.benfordDigits(
        Seq.empty[Double].toDF("v"), col("v")).isEmpty)
    }

    it("round-13 operators degrade to empty output on empty input") {
      val emptyReturns = Seq.empty[(String, java.sql.Date, Double)]
        .toDF("symbol", "trade_date", "daily_return_pct")
      assert(DailyAnalytics.ljungBox(emptyReturns).isEmpty)
      assert(DailyAnalytics.ewmaVolatility(emptyReturns).isEmpty)
      assert(DailyAnalytics.grangerAdjacent(emptyReturns).isEmpty)
      assert(DailyAnalytics.chowBreak(emptyReturns).isEmpty)
      val emptyEdges = Seq.empty[(Long, Long)].toDF("u", "v")
      assert(Graph.clusteringCoefficient(emptyEdges, "u", "v").isEmpty)
      assert(TextAnalysis.pmiCollocations(emptyDocs, "doc_id", "text").isEmpty)
      val emptyPx = Seq.empty[(Long, Long, Long, Long)]
        .toDF("media_id", "y", "x", "v")
      assert(Multimodal.boxFilterFeatures(emptyPx).isEmpty)
    }

    it("r13 additions degrade to empty on empty input") {
      val emptyReturns = Seq.empty[(String, java.sql.Date, Double)]
        .toDF("symbol", "trade_date", "daily_return_pct")
      assert(DailyAnalytics.durbinWatson(emptyReturns).isEmpty)
      assert(DailyAnalytics.saxWords(emptyBars).isEmpty)
      assert(DailyAnalytics.quantileNormalize(emptyReturns).isEmpty)
      assert(TextAnalysis.gopherRules(emptyDocs, "doc_id", "text").isEmpty)
      val emptyMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
      assert(Multimodal.goertzelPower(emptyMedia).isEmpty)
    }

    it("SCC / attribution / Mann-Kendall / grouping sets degrade to empty") {
      val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
      assert(Graph.stronglyConnected(noEdges, "src", "dst", rounds = 2).isEmpty)
      val noJourneys = Seq.empty[(Long, Long, java.sql.Timestamp, String)]
        .toDF("event_id", "user_id", "event_time", "event_type")
      assert(Cohorts.markovAbsorption(noJourneys).isEmpty)
      // journeys that never reach the absorbing target also degrade
      val noTarget = Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "view"),
        (2L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "click"))
        .toDF("event_id", "user_id", "event_time", "event_type")
      assert(Cohorts.markovAbsorption(noTarget).isEmpty)
      assert(DailyAnalytics.mannKendall(emptyBars).isEmpty)
    }
  }
  // The pipeline's audit counts are observed on the jobs it runs anyway
  // (Staging.observed). Over empty stages each observation must still
  // arrive, and no reader may wait on one without end.
  describe("CorpusPipeline on an empty or fully rejected corpus") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler

    /** The pipeline's `[corpus]` audit line over `corpus`. */
    def auditLine(corpus: org.apache.spark.sql.DataFrame): String = TempDir("graft_corpus_empty") { d =>
      corpus.write.parquet(s"$d/docs")
      Seq("the cat sat on the mat by the door").toDF("text").write.parquet(s"$d/eval")
      val out = new java.io.ByteArrayOutputStream()
      TimeLimits.failAfter(3.minutes) {
        Console.withOut(out)(graft.jobs.Pipelines.CorpusPipeline.main(
          Array(s"$d/docs", s"$d/eval", s"$d/out")))
      }
      out.toString("UTF-8").linesIterator.filter(_.startsWith("[corpus]")).toSeq.last
    }

    it("an empty docs file prints zeros") {
      val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
      assert(auditLine(empty) == "[corpus] total=0 kept=0 deduped=0 clean=0 splits()")
    }
    it("a corpus the gate rejects entirely prints its total and zeros") {
      // three tokens each: every doc fails the too-short gate
      val tooShort = (1L to 40L).map(i => (i, "the a of", "en")).toDF("doc_id", "text", "lang")
      assert(auditLine(tooShort) == "[corpus] total=40 kept=0 deduped=0 clean=0 splits()")
    }
  }
}
