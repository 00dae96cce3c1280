package graft

import org.scalatest.funspec.AnyFunSpec

/** End-to-end run of the batch pipeline main (§3 lifecycle): raw CSV
  * landing zone → cleaned, symbol-partitioned parquet. */
class PipelinesSpec extends AnyFunSpec {
  import SharedSpark.spark

  /** Runs `main` on the shared session and asserts it left no RDD it
    * persisted behind: RDD ids are never reused and ContextCleaner only
    * ever drops entries, so a main that found the session's blocks as
    * it left them added no id. */
  private def leavesNoBlocks(main: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    main
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs left persisted: $left")
  }

  describe("Pipelines.BatchPipeline") {
    it("cleans a raw landing zone into partitioned parquet end-to-end") {
      TempDir("graft_pipe") { d =>
        val dir = new java.io.File(d)
        val raw = new java.io.File(dir, "raw/year=2024/month=01/day=02")
        raw.mkdirs()
        val w = new java.io.PrintWriter(new java.io.File(raw, "bars.csv"))
        w.println("symbol,date,daily_open,daily_high,daily_low,daily_close,daily_volume,batch_load_timestamp")
        w.println("AAPL,2024-01-02,10,12,9,11,1000,2024-01-03T00:00:00")
        w.println("msft,2024-01-02,20,22,19,21,900,2024-01-03T00:00:00")
        w.println("BAD,2024-01-02,1,1,1,-1,10,2024-01-03T00:00:00")
        w.close()

        val out = new java.io.File(dir, "processed").getAbsolutePath
        graft.jobs.Pipelines.BatchPipeline.main(
          Array(new java.io.File(dir, "raw").getAbsolutePath, out))

        val bars = spark.read.parquet(out)
        assert(bars.count() == 2)
        assert(bars.select("symbol").distinct().collect().map(_.getString(0)).toSet
          == Set("AAPL", "MSFT"))
        // partitioned layout on disk
        assert(new java.io.File(out).listFiles().exists(_.getName == "symbol=AAPL"))
      }
    }
  }

  describe("schema evolution across table partitions") {
    it("mergeSchema reads old partitions (missing a column) as nulls, not errors") {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      TempDir("graft_evolve") { dir =>
        // v1 files predate the quality_score column
        Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
          .write.parquet(s"$dir/batch=1")
        Seq((3L, "c", 0.9)).toDF("doc_id", "text", "quality_score")
          .write.parquet(s"$dir/batch=2")
        val all = spark.read.option("mergeSchema", "true").parquet(dir)
        assert(all.columns.toSet == Set("doc_id", "text", "quality_score", "batch"))
        val rows = all.select("doc_id", "quality_score")
          .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
        assert(rows(1L).isEmpty && rows(2L).isEmpty) // old rows surface as null
        assert(rows(3L).contains(0.9))
        // and the evolved column still filters/aggregates fine
        assert(all.filter(col("quality_score").isNotNull).count() == 1)
      }
    }
  }

  describe("Pipelines.TransformPipeline") {
    it("builds both marts and passes the freshness + invariants gates end-to-end") {
      import org.apache.spark.sql.functions._
      TempDir("graft_transform") { d =>
        val dir = new java.io.File(d)
        val barsPath = new java.io.File(dir, "bars").getAbsolutePath
        // fresh clean bars (loaded now, so the 49h freshness gate passes)
        graft.sources.Adapters.dailyBars(spark, "/root/testdata/sf0.001")
          .withColumn("batch_loaded_at", current_timestamp())
          .write.parquet(barsPath)
        val outDir = new java.io.File(dir, "marts").getAbsolutePath

        graft.jobs.Pipelines.TransformPipeline.main(Array(barsPath, outDir))

        val perf = spark.read.parquet(s"$outDir/mart_stock_performance")
        val summary = spark.read.parquet(s"$outDir/mart_daily_summary")
        assert(perf.count() > 0 && summary.count() > 0)
        assert(perf.columns.contains("rsi_14") && perf.columns.contains("dbt_updated_at"))
        assert(summary.groupBy("trade_date").count().filter(col("count") > 1).isEmpty)
      }
    }

    it("a stale source fails the freshness gate before any mart is built") {
      import org.apache.spark.sql.functions._
      TempDir("graft_transform_stale") { d =>
        val dir = new java.io.File(d)
        val barsPath = new java.io.File(dir, "bars").getAbsolutePath
        graft.sources.Adapters.dailyBars(spark, "/root/testdata/sf0.001")
          .withColumn("batch_loaded_at", lit("2020-01-01 00:00:00").cast("timestamp"))
          .write.parquet(barsPath)
        val outDir = new java.io.File(dir, "marts").getAbsolutePath

        val e = intercept[IllegalStateException] {
          graft.jobs.Pipelines.TransformPipeline.main(Array(barsPath, outDir))
        }
        assert(e.getMessage.contains("freshness"))
        assert(!new java.io.File(s"$outDir/mart_stock_performance").exists)
      }
    }
  }

  describe("Pipelines.MediaPipeline") {
    it("decompresses, decodes, curates and frame-dedups media end-to-end, dropping poison pills") {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      TempDir("graft_media") { d =>
        val dir = new java.io.File(d)
        val blobsPath = new java.io.File(dir, "blobs").getAbsolutePath
        val outDir = new java.io.File(dir, "out").getAbsolutePath

        val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
        val blobs = graft.operators.Compression
          .compressCorpus(docs, "doc_id", "text", "gzip")
        // two poison pills: junk bytes and a truncated gzip stream
        val gz = graft.operators.Compression.compress("gzip", "x".getBytes("UTF-8"))
        val poison = Seq(
          (99991L, Array.fill[Byte](16)(3), 10),
          (99992L, gz.take(gz.length / 2), 1)).toDF("doc_id", "blob", "orig_len")
        blobs.union(poison).write.parquet(blobsPath)

        leavesNoBlocks(graft.jobs.Pipelines.MediaPipeline.main(Array(blobsPath, outDir)))

        val kept = spark.read.parquet(s"$outDir/kept")
        assert(kept.count() > 0 && kept.count() <= 100)
        assert(kept.filter($"media_id" >= 99991L).isEmpty,
          "poison blobs must not survive ingest")
        val frames = spark.read.parquet(s"$outDir/frames")
        assert(frames.count() > 0)
        // exact dedup held: one row per content hash
        assert(frames.select("frame_hash").distinct().count() == frames.count())
        // every surviving frame belongs to a kept media row
        assert(frames.join(kept, "media_id").count() == frames.count())
      }
    }
  }

  describe("Pipelines.CorpusPipeline") {
    it("filters, dedups, decontaminates, splits, and packs end-to-end") {
      import org.apache.spark.sql.functions._
      TempDir("graft_corpus") { d =>
        val dir = new java.io.File(d)
        val docsPath = new java.io.File(dir, "docs").getAbsolutePath
        val evalPath = new java.io.File(dir, "eval").getAbsolutePath
        val outDir = new java.io.File(dir, "out").getAbsolutePath

        val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        docs.write.parquet(docsPath)
        // the "eval set": 5 verbatim corpus docs -> guaranteed overlap 1.0
        val evalIds = docs.orderBy("doc_id").limit(5)
        evalIds.select("text").write.parquet(evalPath)

        val stdout = new java.io.ByteArrayOutputStream()
        leavesNoBlocks(Console.withOut(stdout)(
          graft.jobs.Pipelines.CorpusPipeline.main(Array(docsPath, evalPath, outDir))))
        val audit = stdout.toString("UTF-8").linesIterator.filter(_.startsWith("[corpus]")).toSeq

        val corpus = spark.read.parquet(s"$outDir/corpus")
        val n = corpus.count()
        assert(n > 0 && n <= docs.count())
        // doc_ids unique after dedup
        assert(corpus.select("doc_id").distinct().count() == n)
        // the verbatim eval twins were decontaminated away (unless the
        // quality gate or dedup dropped them first — either way: gone)
        val leaked = corpus.join(evalIds.select("doc_id"), "doc_id").count()
        assert(leaked == 0, s"$leaked eval docs leaked into the corpus")
        // splits partition the corpus
        val bySplit = corpus.groupBy("split").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
        assert(bySplit.values.sum == n)
        // the packing plan covers exactly the train split
        val plan = spark.read.parquet(s"$outDir/packing_plan")
        assert(plan.select("doc_id").distinct().count() ==
          corpus.filter(col("split") === "train").count())
        // the audit line's observed counts equal recounts of the inputs
        // and outputs: the gate's verdicts, the dedup stage rerun on the
        // kept docs, and the written corpus
        import graft.operators.{Dedup, TextAnalysis}
        val keptIds = TextAnalysis.corpusFilter(docs, "doc_id", "text", "lang")
          .filter(col("keep")).select("doc_id")
        val nKept = keptIds.count()
        val nDeduped = graft.sources.Staging.scoped(spark)(
          Dedup.dedupCorpus(docs.join(keptIds, "doc_id"), "doc_id", "text").count())
        val splits = bySplit.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
        assert(audit == Seq(s"[corpus] total=${docs.count()} kept=$nKept deduped=$nDeduped " +
          s"clean=$n splits($splits)"))
        assert(n <= nDeduped && nDeduped < nKept && nKept < docs.count())
      }
    }
  }
}
