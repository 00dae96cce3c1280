package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.{RawSources, Sinks, Staging}
import graft.streaming.TickStream

/** The reference's three Airflow DAGs (SURVEY §3) as plain sequential
  * Scala mains — DAG edges become function composition, dbt's
  * ephemeral ref-graph becomes lazy DataFrame composition (Catalyst
  * sees the fused plan, exactly like Snowflake saw inlined CTEs).
  *
  * Paths are local directories here; on a cluster they are s3a:// /
  * abfss:// URIs — nothing else changes.
  */
object Pipelines {

  /** Reuse an active session (spark-submit, tests); otherwise build a
    * local one and stop it when done. Never stops a session we didn't
    * create. `f` runs in a [[Staging.scoped]] scope, so a reused
    * session keeps none of the main's snapshots. */
  private def withSession[T](name: String)(f: SparkSession => T): T = {
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = graft.Session.getOrCreate(name)
    try Staging.scoped(spark)(f(spark)) finally if (existing.isEmpty) spark.stop()
  }

  /** stock_market_batch_dag: raw historical CSV → clean bars parquet
    * (spark_process_batch step; the producer/consumer legs are Kafka
    * infrastructure outside the engine). */
  object BatchPipeline {
    def main(args: Array[String]): Unit = {
      val Array(rawPath, outPath) = args.take(2)
      withSession("graft-batch") { spark =>
        val (clean, written) = Staging.observed(
          BatchCleaner.cleanDailyBars(RawSources.rawDailyBars(spark, rawPath)), count(lit(1)))
        Sinks.writePartitioned(clean, outPath, "symbol", Seq("trade_date"))
        println(s"bars written: ${written().getLong(0)}")
      }
    }
  }

  /** stock_streaming_pipeline: raw tick CSV → watermarked 15-minute
    * windows → append parquet, incrementally (vs the reference's
    * full-prefix recompute every 30 minutes). */
  object StreamingPipeline {
    def main(args: Array[String]): Unit = {
      val Array(rawPath, outPath, checkpoint) = args.take(3)
      withSession("graft-stream") { spark =>
        graft.Session.withConf(spark, TickStream.unloadOnCommit -> "true") {
          val ticks = BatchCleaner.cleanTicks(TickStream.rawTickStream(spark, rawPath))
          val q = TickStream.toParquet(TickStream.windowed(ticks), outPath, checkpoint).start()
          q.awaitTermination()
        }
      }
    }
  }

  /** dbt_transformation_pipeline: clean bars → marts → quality gate.
    * The staging→intermediate→mart chain is one lazy plan per mart;
    * the trailing [[graft.quality.Invariants]] stage is the reference's
    * `dbt test` step (dbt_transformation_dag.py:96-108) run against the
    * materialized output, failing the run on error-severity violations. */
  object TransformPipeline {
    import graft.quality.{Freshness, Invariants}

    def main(args: Array[String]): Unit = {
      val Array(barsPath, outDir) = args.take(2)
      withSession("graft-transform") { spark =>
        val bars = spark.read.parquet(barsPath)
        // dbt source-freshness gate (sources.yml:11-14): the batch
        // source must have loaded within 49h, warns past 25h
        if (bars.columns.contains("batch_loaded_at")) {
          val (w, e) = Freshness.batchThresholds
          Freshness.enforce(bars, "batch_loaded_at", current_timestamp(),
            w, e, "processed_daily_bars")
        }
        // singular staging tests run before the marts build, like
        // dbt_test_staging precedes dbt_test_marts in the DAG
        Invariants.enforce(bars, Seq(
          Invariants.highNotBelowLow,
          Invariants.noFutureTrades(current_date())))
        val perf = DailyAnalytics.martStockPerformance(bars, withAudit = true)
        Sinks.writePartitioned(perf, s"$outDir/mart_stock_performance", "symbol", Seq("trade_date"))
        DailyAnalytics.martDailySummary(perf.drop("dbt_updated_at"))
          .withColumn("dbt_updated_at", current_timestamp())
          .write.mode("overwrite").parquet(s"$outDir/mart_daily_summary")
        // mart tests against the materialized tables (what dbt tests)
        Invariants.enforce(
          spark.read.parquet(s"$outDir/mart_stock_performance"),
          Invariants.martStockPerformanceChecks)
        Invariants.enforce(
          spark.read.parquet(s"$outDir/mart_daily_summary"),
          Invariants.martDailySummaryChecks,
          uniqueKeys = Seq(Seq("trade_date")))
      }
    }
  }

  /** The MULTIMODAL training-data DAG — [[CorpusPipeline]]'s shape
    * applied to media: compressed blob archive → per-row decompression
    * with the poison-pill policy (corrupt blobs drop, never fail the
    * job) → WAV container encode (the archive-to-wire step a real
    * pipeline runs once) → container parse + frame decode → energy-VAD
    * curation (keep media with ≥ 1 voiced segment) → frame-level exact
    * dedup by content hash. Every stage is the oracle-checked
    * operator; counts must shrink monotonically (a curation stage that
    * grows its input is a bug, not a statistic); stages snapshot so
    * audits and successors read materialized frames. Every count is
    * observed on a job the pipeline runs anyway ([[Staging.observed]]):
    * the input's on the decode snapshot, each stage's on its own
    * snapshot, the unique frames' on their write. */
  object MediaPipeline {
    import graft.sources.Staging.Snapshottable

    def main(args: Array[String]): Unit = {
      val Array(blobsPath, outDir) = args.take(2)
      withSession("graft-media") { spark =>
        // 1. ingest: gzip blob archive -> raw payloads; poison pills drop
        val (blobs, readTotal) = Staging.observed(spark.read.parquet(blobsPath), count(lit(1)))
        val (raw, nDecoded) = Compression
          .decompressCorpus(blobs, "doc_id", "blob", "orig_len", "gzip")
          .filter(col("ok"))
          .select(col("doc_id").as("media_id"),
            unhex(md5(col("text"))).as("payload"),
            lit(8000).as("sample_rate"))
          .snapshotCounted()
        val total = readTotal().getLong(0)
        // 2. container encode + 3. parse/decode to frame features
        val frames = Multimodal.wavFrameFeatures(
          Multimodal.toWav(raw, "sample_rate"), frameSamples = 4).snapshot()
        // 4. VAD curation: media with at least one voiced segment
        val segs = Multimodal.energySegments(
          frames.drop("sample_rate", "n_channels"), minFrameEnergy = 1000000000L)
        val (voiced, nVoiced) = raw.join(
          segs.select("media_id").distinct(), "media_id").snapshotCounted()
        require(nDecoded <= total && nVoiced <= nDecoded,
          s"media stage grew: $total -> $nDecoded -> $nVoiced")
        // 5. frame-level exact dedup on content hash, keep-first
        val (uniqueFrames, readFrames) = Staging.observed(Dedup.keepFirst(
          Multimodal.sampleFrames(
            Multimodal.asMedia(voiced.select(col("media_id"), col("payload")),
              "media_id", "payload")),
          Seq("frame_hash"), Seq(col("media_id"), col("frame_idx"))), count(lit(1)))
        uniqueFrames.write.mode("overwrite").parquet(s"$outDir/frames")
        voiced.select("media_id").write.mode("overwrite").parquet(s"$outDir/kept")
        val nFrames = readFrames().getLong(0)
        println(s"[media] total=$total decoded=$nDecoded voiced=$nVoiced " +
          s"unique_frames=$nFrames")
      }
    }
  }

  /** The LLM training-data DAG (the pipeline the LLM-data layer's
    * operators exist to compose): raw document corpus → quality/
    * language gate → near-dup removal (exact dups are Jaccard-1
    * near-dups, so one MinHash pass handles both) → eval-set
    * decontamination → deterministic train/val/test split →
    * concat-and-chunk packing plan for the train split.
    *
    * Every stage is the already-oracle-checked operator, composed
    * lazily — Catalyst sees one plan per output, and each stage's
    * scale shape (banded candidates, broadcast eval shingles, hash
    * splits, sharded packing) is unchanged by composition. Stage
    * counts print as the run's audit trail; the job fails if a stage
    * GROWS the corpus (a dedup/filter stage that adds rows is a bug,
    * not a statistic).
    *
    * Each stage output is snapshotted ([[graft.sources.Staging]]) so
    * the next stage reads a materialized frame — without that, every
    * downstream action re-executes the expensive MinHash/
    * decontamination DAG from the scan. Each stage costs its eager
    * snapshot job plus its own work: the audit counts are observed on
    * jobs that run anyway ([[Staging.observed]]) — the input's at the
    * gate, each stage's on its own snapshot, the per-split counts on
    * the corpus write — and the eval set (its text alone) and the
    * written corpus are read with known schemas: the one job that
    * neither stages, collects nor writes is the docs' schema inference. */
  object CorpusPipeline {
    import graft.sources.Staging.Snapshottable

    def main(args: Array[String]): Unit = {
      val Array(docsPath, evalPath, outDir) = args.take(3)
      withSession("graft-corpus") { spark =>
        val docs = spark.read.parquet(docsPath)
        // 1. quality / language gate (first-failing-gate verdicts) over
        // the docs' own rows. The input count is observed between the
        // signal projection and the verdict's filter, which the
        // observation keeps from being pushed into that projection: each
        // row is profiled once, and the verdict reads attributes.
        val (signals, readTotal) =
          Staging.observed(TextAnalysis.corpusSignals(docs, "text"), count(lit(1)))
        val (kept, nKept) = signals.filter(TextAnalysis.dropReason("lang") === "kept")
          .select(docs.columns.map(col): _*)
          .snapshotCounted()
        val total = readTotal().getLong(0)
        // 2. near-dup removal: keep each group's representative
        val (deduped, nDeduped) = Dedup.dedupCorpus(kept, "doc_id", "text").snapshotCounted()
        // 3. eval decontamination: drop heavy-overlap docs (docs too
        // short to shingle never appear in the score frame = clean)
        val evalDocs = spark.read.schema("text STRING").parquet(evalPath)
        val contaminated = Decontamination
          .contaminationScores(deduped, "doc_id", "text", evalDocs, "text")
          .filter(col("overlap_ratio") >= 0.5)
          .select("doc_id")
        val (clean, nClean) = deduped.join(contaminated, Seq("doc_id"), "left_anti")
          .snapshotCounted()
        require(nKept <= total && nDeduped <= nKept && nClean <= nDeduped,
          s"corpus stage grew: $total -> $nKept -> $nDeduped -> $nClean")
        // 4. deterministic split, stable under corpus growth
        val names = Seq("train", "val", "test")
        val (split, readSplits) = Staging.observed(
          Sampling.withSplit(clean, "doc_id", trainFraction = 0.8, valFraction = 0.1),
          names.map(n => count_if(col("split") === n).as(n)): _*)
        split.write.mode("overwrite").partitionBy("split")
          .parquet(s"$outDir/corpus")
        // 5. packing plan for the train split (fixed shards: layout
        // reproducibility across runs beats auto-scaling here)
        val written = spark.read.schema(split.schema).parquet(s"$outDir/corpus")
        val packed = Packing.chunkSpans(
          TextAnalysis.tokenStats(written.filter(col("split") === "train"), "text")
            .select("doc_id", "n_tokens"),
          "doc_id", "n_tokens", budget = 2048, shards = 64)
        packed.write.mode("overwrite").parquet(s"$outDir/packing_plan")
        val bySplit = readSplits()
        val splits = names.indices.filter(bySplit.getLong(_) > 0)
          .map(i => s"${names(i)}=${bySplit.getLong(i)}").sorted.mkString(" ")
        println(s"[corpus] total=$total kept=$nKept deduped=$nDeduped " +
          s"clean=$nClean splits($splits)")
      }
    }
  }
}
