package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import graft.operators.TickAnalytics
import graft.sources.Schemas.Tick
import graft.streaming.TickStream

/** SURVEY §7.4 risk 6: the same aggregation core must produce the same
  * windows in batch mode (reference semantics) and under Structured
  * Streaming. */
case class Quote(symbol: String, quote_time: Timestamp, bid: Double)

class StreamingSpec extends AnyFunSpec {
  import SharedSpark.spark
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:${min}%02d:00")

  private val ticks = Seq(
    Tick("AAPL", ts(0), 10.0, 1), Tick("AAPL", ts(5), 12.0, 2),
    Tick("AAPL", ts(14), 11.0, 1), Tick("AAPL", ts(16), 13.0, 3),
    Tick("MSFT", ts(2), 50.0, 1), Tick("MSFT", ts(31), 52.0, 2),
    Tick("AAPL", ts(47), 14.0, 1))

  describe("streaming vs batch window aggregation") {
    it("complete-mode streaming output equals the batch recompute") {
      val source = MemoryStream[Tick](spark)
      source.addData(ticks: _*)
      val q = TickStream.windowed(source.toDF(), "15 minutes", "30 minutes")
        .writeStream.format("memory").queryName("win15")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()

      val streamed = spark.table("win15")
        .select("symbol", "window_start", "window_end", "ma", "volatility", "volume_sum")
      val batch = TickAnalytics.windowAggregates(ticks.toDF(), "15 minutes")
      assert(streamed.count() == 5)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    }

    it("append-mode parquet sink emits finalized windows exactly once") {
      TempDir("graft_stream") { dir =>
        val source = MemoryStream[Tick](spark)
        source.addData(ticks: _*)
        // late watermark-closing batch: an event far in the future closes
        // all earlier windows
        source.addData(Tick("AAPL", Timestamp.valueOf("2024-01-01 13:00:00"), 1.0, 1))
        val q = TickStream.toParquet(
          TickStream.windowed(source.toDF(), "15 minutes", "10 minutes"),
          s"$dir/out", s"$dir/ckpt").start()
        try q.processAllAvailable() finally q.stop()

        val out = spark.read.parquet(s"$dir/out")
        // the 5 original windows are closed by the 13:00 event; the 13:00
        // window itself is still open and must NOT be emitted
        assert(out.count() == 5)
        assert(out.filter($"window_start" === "2024-01-01 13:00:00").isEmpty)
        // no duplicate windows (the reference's append lane can duplicate)
        assert(out.groupBy("symbol", "window_start").count().filter($"count" > 1).isEmpty)
      }
    }
  }

  describe("custom keyed state (mapGroupsWithState)") {
    it("accumulates cumulative per-symbol stats across micro-batches") {
      val source = MemoryStream[Tick](spark)
      val q = TickStream.runningStats(source.toDS())
        .writeStream.format("memory").queryName("cumstats")
        .outputMode("update").start()
      try {
        source.addData(ticks.take(4): _*) // 4 AAPL rows? (3 AAPL + 1 at :16)
        q.processAllAvailable()
        source.addData(ticks.drop(4): _*)
        q.processAllAvailable()
      } finally q.stop()
      // latest update per symbol reflects ALL its ticks
      val aapl = ticks.filter(_.symbol == "AAPL")
      assert(spark.table("cumstats").filter($"symbol" === "AAPL")
        .agg(max("n_ticks")).as[Long].head() == aapl.length)
      assert(spark.table("cumstats").filter($"symbol" === "AAPL")
        .agg(max("volume")).as[Long].head() == aapl.map(_.volume).sum)
      // last_price follows max event_time
      val lastRow = spark.table("cumstats").filter($"symbol" === "AAPL")
        .orderBy($"n_ticks".desc).limit(1).select("last_price").as[Double].head()
      assert(lastRow == aapl.maxBy(_.event_time.getTime).price)
    }

    it("space-saving top-k: exact under capacity, bounded error + bounded state over it") {
      // EXACT regime (capacity >= distinct items): counts equal truth
      val source = MemoryStream[(String, Int, Long)](spark)
      val q = TickStream.spaceSavingTopK(source.toDS(), capacity = 16, emitK = 16)
        .writeStream.format("memory").queryName("sstopk")
        .outputMode("update").start()
      // items 1..8 with frequency = item id, split across two batches
      val all = (1L to 8L).flatMap(i => Seq.fill(i.toInt)(("g", 0, i)))
      try {
        source.addData(all.take(10): _*)
        q.processAllAvailable()
        source.addData(all.drop(10): _*)
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("sstopk").orderBy($"total_events".desc).limit(1)
        .select(explode($"summary").as("e"))
        .select($"e.user_id", $"e.cnt", $"e.err")
        .as[(Long, Long, Long)].collect()
        .map { case (u, c, e) => u -> (c, e) }.toMap
      assert(last.size == 8 && (1L to 8L).forall(i => last(i)._1 == i),
        s"under capacity the summary must be exact: $last")
      assert(last.values.forall(_._2 == 0L), "no error under capacity")

      // EVICTION regime: capacity 4 << 8 distinct; space-saving bounds
      val st = graft.streaming.TickStream.TopKShardState(Map.empty, 0L)
      val folded = all.foldLeft((st.counts, 0L)) { case ((counts, total), (_, _, item)) =>
        // replicate the operator's fold directly (unit-level: the
        // streaming plumbing is proven above; this pins the bound)
        val next = counts.get(item) match {
          case Some((c, e)) => counts + (item -> (c + 1, e))
          case None if counts.size < 4 => counts + (item -> (1L, 0L))
          case None =>
            val (mItem, (mCnt, _)) = counts.minBy { case (it, (c, _)) => (c, it) }
            (counts - mItem) + (item -> (mCnt + 1, mCnt))
        }
        (next, total + 1)
      }
      val (counts, n) = folded
      assert(counts.size == 4, "state never exceeds capacity")
      counts.foreach { case (item, (cnt, err)) =>
        val truth = item // item i appears i times
        assert(cnt >= truth && cnt <= truth + n / 4,
          s"space-saving bound violated for $item: cnt=$cnt truth=$truth n=$n")
        assert(err <= n / 4, s"err must stay under N/capacity: $err")
      }
      // every item with true frequency > N/capacity must be present
      (1L to 8L).filter(_ > n / 4).foreach(hot =>
        assert(counts.contains(hot), s"heavy hitter $hot evicted"))
    }

    it("stream-static join enriches every tick with the broadcast dim") {
      val source = MemoryStream[Tick](spark)
      val dim = Seq(("AAPL", "Tech"), ("MSFT", "Tech"))
        .toDF("symbol", "sector")
      val q = TickStream.enrichTicks(source.toDF(), dim)
        .writeStream.format("memory").queryName("enriched")
        .outputMode("append").start()
      try {
        source.addData(ticks: _*)
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table("enriched")
      assert(out.count() == ticks.length)
      // known symbols get their sector, unknown ones survive with null
      assert(out.filter($"symbol" === "AAPL" && $"sector" =!= "Tech").isEmpty)
      assert(out.filter($"sector".isNull).count() ==
        ticks.count(t => t.symbol != "AAPL" && t.symbol != "MSFT"))
    }

    it("upsert-sink existence check resolves through the Hadoop FileSystem API") {
      TempDir("graft_fs_check") { dir =>
        // An explicit file:-scheme URI: java.io.File("file:/...") never exists
        // (the scheme becomes part of the pathname), so a true result proves
        // the check went through Hadoop's FileSystem, not the local-FS API.
        assert(!new java.io.File(s"file:$dir").exists)
        assert(TickStream.tableExists(spark, s"file:$dir"))
        assert(!TickStream.tableExists(spark, s"file:$dir/absent"))
      }
    }

    it("foreachBatch upsert sink converges to one row per key across batches") {
      TempDir("graft_upsert") { dir =>
        val source = MemoryStream[Tick](spark)
        val stats = TickStream.runningStats(source.toDS())
          .withColumn("version", col("n_ticks")) // monotone per key
        val q = TickStream.upsertSink(stats, s"$dir/table", s"$dir/ckpt",
          Seq("symbol"), "version").start()
        try {
          source.addData(ticks.take(4): _*)
          q.processAllAvailable()
          source.addData(ticks.drop(4): _*)
          q.processAllAvailable()
        } finally q.stop()
        val table = spark.read.parquet(s"$dir/table")
        assert(table.groupBy("symbol").count().filter($"count" > 1).isEmpty)
        val aapl = ticks.filter(_.symbol == "AAPL")
        assert(table.filter($"symbol" === "AAPL").select("n_ticks").as[Long].head() == aapl.length)
      }
    }

    it("partitioned upsert sink rewrites only the partitions a batch touches") {
      TempDir("graft_upsert_part") { dir =>
        val source = MemoryStream[(String, String, Double, Long)](spark)
        val updates = source.toDF().toDF("symbol", "trade_date", "price", "version")
        val q = TickStream.upsertSinkPartitioned(updates, s"$dir/table", s"$dir/ckpt",
          Seq("symbol", "trade_date"), "version", "trade_date").start()

        def partFiles(p: String): Map[String, Long] = {
          val d = new java.io.File(s"$dir/table/trade_date=$p")
          if (!d.exists) Map.empty
          else d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getName -> f.lastModified()).toMap
        }

        try {
          source.addData(("AAPL", "d1", 10.0, 1L), ("MSFT", "d2", 50.0, 1L))
          q.processAllAvailable()
          val d1Before = partFiles("d1")
          assert(d1Before.nonEmpty)
          Thread.sleep(1100) // mtime granularity
          // second batch touches ONLY d2 (new version) — d1 must not be rewritten
          source.addData(("MSFT", "d2", 55.0, 2L))
          q.processAllAvailable()
          assert(partFiles("d1") == d1Before, "untouched partition was rewritten")
        } finally q.stop()

        val table = spark.read.parquet(s"$dir/table")
        assert(table.count() == 2)
        assert(table.filter($"symbol" === "MSFT").select("price").as[Double].head() == 55.0)
        assert(table.filter($"symbol" === "MSFT").select("version").as[Long].head() == 2L)
        assert(table.filter($"symbol" === "AAPL").select("price").as[Double].head() == 10.0)
      }
    }

    it("stream-stream tick⋈quote join matches the batch range join") {
      val quotes = Seq(
        Quote("AAPL", ts(1), 9.9), Quote("AAPL", ts(13), 10.8),
        Quote("AAPL", ts(40), 13.5), Quote("MSFT", ts(1), 49.9),
        Quote("TSLA", ts(2), 200.0)) // symbol with no ticks: must not match
      val tickSrc = MemoryStream[Tick](spark)
      val quoteSrc = MemoryStream[Quote](spark)
      tickSrc.addData(ticks: _*)
      quoteSrc.addData(quotes: _*)
      // watermark-advancing stragglers so the append join emits
      tickSrc.addData(Tick("AAPL", Timestamp.valueOf("2024-01-01 13:00:00"), 1.0, 1))
      quoteSrc.addData(Quote("AAPL", Timestamp.valueOf("2024-01-01 13:00:00"), 1.0))

      val q = TickStream.tickQuoteJoin(tickSrc.toDF(), quoteSrc.toDF(), "15 minutes", "10 minutes")
        .writeStream.format("memory").queryName("ss_join").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()

      val batch = ticks.toDF().as("t").join(quotes.toDF().as("q"),
        expr("""t.symbol = q.symbol AND
                q.quote_time BETWEEN t.event_time - INTERVAL 15 minutes AND t.event_time"""))
        .select($"t.symbol", $"event_time", $"price", $"volume", $"quote_time", $"bid")
      val streamed = spark.table("ss_join")
        .filter($"event_time" < "2024-01-01 12:00:00") // drop the straggler pair
        .select(batch.columns.map(col): _*)
      assert(batch.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    }

    it("windowed aggregation runs on the RocksDB state store with identical results") {
      Session.withConf(spark, TickDrain.rocksDb: _*) {
        val source = MemoryStream[Tick](spark)
        source.addData(ticks: _*)
        val q = TickStream.windowed(source.toDF(), "15 minutes", "30 minutes")
          .writeStream.format("memory").queryName("win15_rocks")
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        val streamed = spark.table("win15_rocks")
          .select("symbol", "window_start", "window_end", "ma", "volatility", "volume_sum")
        val batch = TickAnalytics.windowAggregates(ticks.toDF(), "15 minutes")
        assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
      }
    }

    it("streaming corpus ingestion flags cross-batch near-dups exactly once") {
      TempDir("graft_corpus_stream") { dir =>
        val source = MemoryStream[(Long, String)](spark)
        val docs = source.toDF().toDF("doc_id", "text")
        val q = graft.streaming.CorpusStream.dedupIngest(docs, "doc_id", "text",
          s"$dir/store", s"$dir/flags", s"$dir/ckpt").start()
        try {
          source.addData(
            (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2L, "completely different words about spark window functions and shuffles here"))
          q.processAllAvailable()
          source.addData(
            (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
            (4L, "yet another unrelated document about batch pipelines and parquet files"))
          q.processAllAvailable()
        } finally q.stop()
        val pairs = spark.read.parquet(s"$dir/flags")
          .select("id1", "id2").as[(Long, Long)].collect().toSet
        // batch 2 finds 3 ~ 1 across batches; nothing pairs within either batch
        assert(pairs == Set((1L, 3L)))
        // all four docs (signatures) accumulated in the store
        assert(spark.read.parquet(s"$dir/store").select("doc_id").distinct().count() == 4)
      }
    }

    it("a degenerate first batch (all docs below shingle size) doesn't poison the store") {
      TempDir("graft_corpus_degen") { dir =>
        val source = MemoryStream[(Long, String)](spark)
        val docs = source.toDF().toDF("doc_id", "text")
        val q = graft.streaming.CorpusStream.dedupIngest(docs, "doc_id", "text",
          s"$dir/store", s"$dir/flags", s"$dir/ckpt").start()
        try {
          source.addData((1L, "too short")) // < 3 words -> zero shingles -> empty batch
          q.processAllAvailable()
          source.addData(
            (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (3L, "the quick brown fox jumps over the lazy dog near the river bank today"))
          q.processAllAvailable()
        } finally q.stop()
        val pairs = spark.read.parquet(s"$dir/flags")
          .select("id1", "id2").as[(Long, Long)].collect().toSet
        assert(pairs == Set((2L, 3L)))
        assert(spark.read.parquet(s"$dir/store").select("doc_id").distinct().count() == 2)
      }
    }

    it("stageTimeChunks writes disjoint ascending time ranges with matching mtime order") {
      val src = java.nio.file.Files.createTempDirectory("graft_chunks").toFile
      val rows = (1 to 1000).map(i => ((i * 7919) % 1000L, s"r$i")) // shuffled times
      val dir = graft.sources.Scratch.cached("spec_chunks", 1, Seq(src))(
        TickStream.stageTimeChunks(rows.toDF("t", "v"), "t", 4, _))
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      assert(files.length == 4)
      // mtimes strictly increase in filename (= range) order
      assert(files.sliding(2).forall { case Array(a, b) => a.lastModified < b.lastModified })
      // ranges are disjoint and ascending: each file's max < next file's min
      val ranges = files.map { f =>
        val d = spark.read.parquet(f.getAbsolutePath)
        (d.agg(min($"t")).head.getLong(0), d.agg(max($"t")).head.getLong(0))
      }
      assert(ranges.sliding(2).forall { case Array((_, hi), (lo, _)) => hi <= lo })
      // nothing lost in the re-land
      assert(spark.read.parquet(dir).count() == 1000)
      // the cache publishes the stage only after the mtime stamping
      assert(new java.io.File(dir, graft.sources.Scratch.Marker).exists)
      Seq(dir, src.toString).foreach(graft.sources.Scratch.deleteDir)
    }

    it("chunked stream-stream join replays >1 micro-batch with state bounded below the input") {
      // The registered q_stream_join shape: events staged as 3
      // time-ordered files, maxFilesPerTrigger=1, so the watermark
      // advances between micro-batches and join-state eviction runs
      // mid-query. Without chunking, one AvailableNow batch buffers
      // BOTH full inputs in the state store — the scale cliff this
      // test pins shut.
      val dir = "/root/testdata/sf0.001"
      assume(new java.io.File(s"$dir/events.parquet").exists())
      val (result, progress) = SparkEntry.streamJoinRun(spark, dir)

      val withData = progress.filter(_.numInputRows > 0)
      assert(withData.length > 1,
        s"expected multiple data-bearing micro-batches, got ${withData.length}")
      val totalInput = withData.map(_.numInputRows).sum
      val peakState = progress.flatMap(_.stateOperators.map(_.numRowsTotal)).max
      // measured ~6% at sf0.001 AND sf0.01 (time-window bounded, not
      // input bounded); 25% = 4x margin still proves eviction ran
      assert(peakState < totalInput / 4,
        s"state store held $peakState rows >= 25% of input $totalInput — eviction degraded")

      // row-identical to the batch interval join (the oracle's form)
      val ev = graft.sources.Tables.events(spark, dir)
      val t = graft.sources.Adapters.eventTime(ev)
      val views = ev.filter($"event_type" === "view")
        .select($"user_id", t.cast("timestamp").as("view_time"), $"event_id".as("view_id"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), t.cast("timestamp").as("click_time"),
          $"event_id".as("click_id"))
      val batch = views.join(clicks,
          expr("""user_id = c_user AND
                  click_time BETWEEN view_time - INTERVAL 6 hours AND view_time"""))
        .select($"user_id", $"view_id", $"click_id",
          $"view_time".cast("timestamp_ntz").as("view_time"),
          $"click_time".cast("timestamp_ntz").as("click_time"))
      assert(result.count() == batch.count())
      assert(result.exceptAll(batch).isEmpty && batch.exceptAll(result).isEmpty)
    }

    it("LEFT OUTER stream-stream join emits the last chunk's unmatched rows (sentinel flush)") {
      val dir = "/root/testdata/sf0.001"
      assume(new java.io.File(s"$dir/events.parquet").exists())
      val result = SparkEntry.queries("q_stream_join_outer")(spark, dir)
      // batch LEFT JOIN oracle form
      val ev = graft.sources.Tables.events(spark, dir)
      val t = graft.sources.Adapters.eventTime(ev)
      val views = ev.filter($"event_type" === "view")
        .select($"user_id", t.cast("timestamp").as("view_time"), $"event_id".as("view_id"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), t.cast("timestamp").as("click_time"),
          $"event_id".as("click_id"))
      val batch = views.join(clicks,
          expr("""user_id = c_user AND
                  click_time BETWEEN view_time - INTERVAL 6 hours AND view_time"""),
          "left_outer")
        .select($"user_id", $"view_id", $"click_id",
          $"view_time".cast("timestamp_ntz").as("view_time"),
          $"click_time".cast("timestamp_ntz").as("click_time"))
      assert(result.count() == batch.count())
      assert(result.exceptAll(batch).isEmpty && batch.exceptAll(result).isEmpty)
      // the null-extended rows are the point: without the watermark
      // flush, the tail's unmatched views would be missing entirely
      assert(result.filter($"click_id".isNull).count() ==
        batch.filter($"click_id".isNull).count())
      assert(result.filter($"click_id".isNull).count() > 0)
      // no sentinel leaked
      assert(result.filter($"user_id" === -999999L).isEmpty)
    }

    it("streaming dedup drops repeated (symbol, event_time) rows") {
      val source = MemoryStream[Tick](spark)
      val q = TickStream.dedupedTicks(source.toDF())
        .writeStream.format("memory").queryName("dedup_ticks")
        .outputMode("append").start()
      try {
        source.addData(ticks.head, ticks.head, ticks(1)) // exact dup in-batch
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.table("dedup_ticks").count() == 2)
    }
  }

  describe("exactly-once restart proofs") {
    import org.apache.spark.sql.types._
    val updSchema = StructType(Seq(
      StructField("symbol", StringType), StructField("price", DoubleType),
      StructField("version", LongType)))

    def writeFile(dir: String, rows: Seq[(String, Double, Long)]): Unit =
      rows.toDF("symbol", "price", "version").coalesce(1)
        .write.mode("append").parquet(dir)

    def tableRows(path: String): Set[(String, Double, Long)] =
      spark.read.parquet(path).as[(String, Double, Long)].collect().toSet

    def runUpsert(src: String, dir: String): Unit = {
      val updates = spark.readStream.schema(updSchema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = TickStream.upsertSink(updates, s"$dir/table", s"$dir/ckpt",
          Seq("symbol"), "version")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    it("upsert sink: restarting a COMPLETED run from its checkpoint changes nothing") {
      TempDir("graft_eo1") { dir =>
        writeFile(s"$dir/src", Seq(("AAPL", 10.0, 1L), ("MSFT", 50.0, 1L)))
        writeFile(s"$dir/src", Seq(("AAPL", 11.0, 2L)))
        runUpsert(s"$dir/src", dir)
        val after = tableRows(s"$dir/table")
        assert(after == Set(("AAPL", 11.0, 2L), ("MSFT", 50.0, 1L)))
        // restart: checkpoint says both files are committed — no batch may
        // re-apply, the table must be row-identical
        runUpsert(s"$dir/src", dir)
        assert(tableRows(s"$dir/table") == after,
          "completed-checkpoint restart changed the table")
      }
    }

    it("upsert sink: an UNCOMMITTED batch replays idempotently after a crash") {
      TempDir("graft_eo2") { dir =>
        writeFile(s"$dir/src", Seq(("AAPL", 10.0, 1L), ("MSFT", 50.0, 1L)))
        writeFile(s"$dir/src", Seq(("AAPL", 11.0, 2L), ("GOOG", 99.0, 1L)))
        runUpsert(s"$dir/src", dir)
        val after = tableRows(s"$dir/table")
        // simulate a crash BETWEEN the sink write and the commit-log write
        // of the last batch: restore the checkpoint to a fresh location
        // with the final commits entry MISSING (offsets entry present), so
        // the restart re-executes that batch's foreachBatch against a
        // table that already contains its effects — the merge must
        // converge, not duplicate. (A fresh location, not in-place
        // surgery: Spark 4 flags same-JVM checkpoint mutation as
        // concurrent use — and a restored-backup checkpoint is exactly
        // the operational crash-recovery shape anyway.)
        val src = java.nio.file.Paths.get(s"$dir/ckpt")
        val restored = java.nio.file.Paths.get(s"$dir/ckpt_restored")
        val commitNames = new java.io.File(s"$dir/ckpt/commits")
          .listFiles().filter(_.getName.forall(_.isDigit)).map(_.getName)
          .sortBy(_.toInt)
        assert(commitNames.length >= 2, "expected one commit per staged file")
        // drop the commit entry AND its local-FS checksum shadow (the
        // ChecksumFileSystem writes commits/.1.crc beside commits/1; a
        // stale shadow makes the replay's commit rewrite fail with
        // FileAlreadyExists)
        val dropped = Set(s"commits/${commitNames.last}",
          s"commits/.${commitNames.last}.crc")
        java.nio.file.Files.walk(src).forEach { p =>
          val rel = src.relativize(p).toString
          if (rel.nonEmpty && !dropped(rel)) {
            val t = restored.resolve(rel)
            if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
            else {
              java.nio.file.Files.createDirectories(t.getParent)
              java.nio.file.Files.copy(p, t)
            }
          }
        }
        val updates = spark.readStream.schema(updSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
        val q = TickStream.upsertSink(updates, s"$dir/table", s"$dir/ckpt_restored",
            Seq("symbol"), "version")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        assert(tableRows(s"$dir/table") == after,
          "replayed batch was not idempotent")
      }
    }

    it("snapshot sink: restart with NEW data equals one continuous run (state restore)") {
      TempDir("graft_eo3") { dir =>
        def runSnapshot(): Unit = {
          val src = spark.readStream.schema(updSchema).parquet(s"$dir/src")
          val agg = src.groupBy("symbol")
            .agg(count(lit(1)).as("n"), sum(col("version")).as("vsum"))
          val q = TickStream.snapshotSink(agg, s"$dir/table", s"$dir/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        writeFile(s"$dir/src", Seq(("AAPL", 10.0, 1L), ("MSFT", 50.0, 2L)))
        runSnapshot()
        // run 2 sees ONLY the new file — its complete-mode snapshot is
        // correct only if the aggregation state was restored from the
        // checkpoint, not recomputed from the batch alone
        writeFile(s"$dir/src", Seq(("AAPL", 12.0, 4L), ("TSLA", 1.0, 8L)))
        runSnapshot()
        val got = spark.read.parquet(s"$dir/table")
          .as[(String, Long, Long)].collect().toSet
        assert(got == Set(("AAPL", 2L, 5L), ("MSFT", 1L, 2L), ("TSLA", 1L, 8L)),
          s"snapshot after restart diverged from the continuous-run result: $got")
      }
    }
  }

  describe("abMonitor (streaming experiment state)") {
    it("chunked arrival converges to the one-pass batch statistics") {
      val source = MemoryStream[(String, Long, Long)](spark)
      val q = TickStream.abMonitor(source.toDS())
        .writeStream.format("memory").queryName("abmon")
        .outputMode("update").start()
      try {
        // batch 1: metric m, control u2 pays 100, treated u1 pays 300
        source.addData(("m", 2L, 100L), ("m", 1L, 300L))
        q.processAllAvailable()
        // batch 2: more of each arm, plus a second metric
        source.addData(("m", 4L, 200L), ("m", 3L, 500L), ("k", 1L, 50L))
        q.processAllAvailable()
        val last = spark.table("abmon")
          .orderBy(col("n_total").desc)
          .collect()
          .groupBy(_.getAs[String]("metric"))
          .map { case (m, rows) => m -> rows.maxBy(_.getAs[Long]("n_total")) }
        val mRow = last("m")
        assert(mRow.getAs[Long]("n_ctrl") == 2L && mRow.getAs[Long]("n_treat") == 2L)
        assert(mRow.getAs[Long]("s_ctrl") == 300L && mRow.getAs[Long]("s_treat") == 800L)
        assert(mRow.getAs[Long]("s_sq") ==
          100L * 100 + 300L * 300 + 200L * 200 + 500L * 500)
        val kRow = last("k")
        assert(kRow.getAs[Long]("n_treat") == 1L && kRow.getAs[Long]("s_treat") == 50L)
      } finally q.stop()
    }
  }

  describe("cusumMonitor (streaming drift detector)") {
    it("chunked arrival equals the hand-rolled Page recurrence, alarm included") {
      val source = MemoryStream[(String, Long, Long)](spark)
      // τ=10, c=0, h=5: xs drive S⁺ up past h then collapse
      val q = TickStream.cusumMonitor(source.toDS(),
          target = 10L, slack = 0L, threshold = 5L)
        .writeStream.format("memory").queryName("cusum")
        .outputMode("update").start()
      try {
        source.addData(("s", 1L, 13L), ("s", 2L, 14L)) // S⁺: 3 → 7 (alarm at n=2)
        q.processAllAvailable()
        source.addData(("s", 4L, 1L), ("s", 3L, 2L))   // out-of-order in-batch: sorted by ts
        q.processAllAvailable()
        val rows = spark.table("cusum").collect()
          .map(r => r.getAs[Long]("n_events") ->
            (r.getAs[Long]("s_plus"), r.getAs[Long]("max_s_plus"),
              Option(r.getAs[java.lang.Long]("first_alarm_n")).map(_.toLong)))
          .toMap
        // after batch 1: P = 3, 7; S⁺ = 7, max 7, alarm at n=2
        assert(rows(2L) == ((7L, 7L, Some(2L))))
        // ts-sorted batch 2 folds 2 then 1: P = -1, -10 → S⁺ = 0
        assert(rows(4L)._1 == 0L)
        assert(rows(4L)._2 == 7L)             // running max survives the collapse
        assert(rows(4L)._3.contains(2L))      // first alarm is sticky
      } finally q.stop()
    }

    it("S⁻ side: a downward shift accumulates and the state stays eight longs") {
      val source = MemoryStream[(String, Long, Long)](spark)
      val q = TickStream.cusumMonitor(source.toDS(),
          target = 10L, slack = 1L, threshold = 100L)
        .writeStream.format("memory").queryName("cusumdn")
        .outputMode("update").start()
      try {
        source.addData(("d", 1L, 5L), ("d", 2L, 4L))
        q.processAllAvailable()
        source.addData(("d", 3L, 3L))
        q.processAllAvailable()
        val r = spark.table("cusumdn").collect()
          .maxBy(_.getAs[Long]("n_events"))
        // d2 = x−9: −4, −5, −6 → P₂ = −4, −9, −15; S⁻ = 15
        assert(r.getAs[Long]("s_minus") == 15L)
        assert(r.getAs[Long]("s_plus") == 0L) // d1 = x−11 all negative
        assert(r.getAs[java.lang.Long]("first_alarm_n") == null)
      } finally q.stop()
    }
  }

  describe("ewmaMonitor (streaming EWMA control chart)") {
    it("chunked arrival equals the hand-rolled integer recursion, max tracked") {
      val source = MemoryStream[(String, Long, Long)](spark)
      val q = TickStream.ewmaMonitor(source.toDS())
        .writeStream.format("memory").queryName("ewmamon")
        .outputMode("update").start()
      try {
        source.addData(("s", 1L, 100L), ("s", 2L, 200L))
        q.processAllAvailable()
        // v1 = 100² = 10000; v2 = (94·10000 + 6·40000)/100 = 11800
        source.addData(("s", 4L, 50L), ("s", 3L, 300L)) // out-of-order: sorted by ts
        q.processAllAvailable()
        val rows = spark.table("ewmamon").collect()
          .map(r => r.getAs[Long]("n_events") ->
            (r.getAs[Long]("ewma2"), r.getAs[Long]("max_ewma2"))).toMap
        assert(rows(2L) == ((11800L, 11800L)))
        // batch 2 folds ts=3 (x=300) first: v3 = (94·11800 + 6·90000)/100 = 16492
        // then ts=4 (x=50): v4 = (94·16492 + 6·2500)/100 = 15652
        assert(rows(4L)._1 == 15652L)
        assert(rows(4L)._2 == 16492L) // running max survives the decay
      } finally q.stop()
    }

    it("a constant stream is a fixed point: v stays x² across batches") {
      val source = MemoryStream[(String, Long, Long)](spark)
      val q = TickStream.ewmaMonitor(source.toDS())
        .writeStream.format("memory").queryName("ewmaconst")
        .outputMode("update").start()
      try {
        source.addData(("c", 1L, 250L), ("c", 2L, 250L))
        q.processAllAvailable()
        source.addData(("c", 3L, 250L))
        q.processAllAvailable()
        val r = spark.table("ewmaconst").collect()
          .maxBy(_.getAs[Long]("n_events"))
        assert(r.getAs[Long]("ewma2") == 62500L && r.getAs[Long]("max_ewma2") == 62500L)
      } finally q.stop()
    }
  }

  describe("StreamingPipeline checkpoint across a shuffle-partition change") {
    it("drains a checkpoint written at 8 partitions after the session moves to 4") {
      TickDrain.zone("graft_ckpt_parts") { zone =>
        Session.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
          zone.land("a.csv", TickDrain.firstRows)
          zone.drain()
          spark.conf.set("spark.sql.shuffle.partitions", "4")
          zone.land("b.csv", TickDrain.closingRows)
          zone.drain()
        }
        val (out, want) = (zone.written(spark), zone.closedWindows(spark))
        assert(want.count() == 5)
        assert(out.exceptAll(want).isEmpty && want.exceptAll(out).isEmpty)
        // the stateful operator kept the checkpoint's 8 partitions
        assert(zone.stores.size == 8)
      }
    }
  }

  describe("StreamingPipeline.main on a reused session") {
    it("leaves unloadOnCommit at the value the session had") {
      TickDrain.zone("graft_conf_restore") { zone =>
        val prior = spark.conf.getOption(TickStream.unloadOnCommit)
        zone.land("a.csv", TickDrain.firstRows)
        zone.drain()
        assert(spark.conf.getOption(TickStream.unloadOnCommit) == prior)
        Session.withConf(spark, TickStream.unloadOnCommit -> "false") {
          zone.land("b.csv", TickDrain.closingRows)
          zone.drain()
          assert(spark.conf.get(TickStream.unloadOnCommit) == "false")
        }
        assert(zone.written(spark).count() == 5)
      }
    }
  }

  describe("StreamingPipeline restart") {
    it("snapshots within 10 deltas of the last commit and keeps only the retained window") {
      TickDrain.zone("graft_ckpt_snap") { zone =>
        val retain = 2
        Session.withConf(spark, "spark.sql.streaming.minBatchesToRetain" -> retain.toString) {
          // each drain advances the watermark an hour: a data batch,
          // then a no-data batch that evicts the closed windows
          (10 until 17).foreach { h =>
            zone.land(s"$h.csv", Seq(s"AAPL,2024-01-01 $h:00:00,10.0,10,10,10,1"))
            zone.drain()
          }
        }
        // state-store version n is the state after batch n - 1
        val last = new java.io.File(s"${zone.dir}/ckpt/commits").list()
          .filter(_.forall(_.isDigit)).map(_.toLong).max + 1
        assert(last >= 13, "seven drains commit at least 13 batches")
        assert(zone.stores.nonEmpty)
        zone.stores.foreach { store =>
          val files = store.list().toSeq
          val version = (f: String) => f.dropWhile(_ == '.').takeWhile(_.isDigit).toLong
          val snapshots = files.filter(_.endsWith(".snapshot")).map(version)
          assert(snapshots.exists(_ >= last - 10), s"$store: no snapshot within 10 deltas of $last: $files")
          // a restart to version last - retain loads the newest snapshot
          // at or below it; nothing older is retained
          val base = snapshots.filter(_ <= last - retain).maxOption
            .getOrElse(fail(s"$store: no snapshot at or below ${last - retain}: $files"))
          val stale = files.filter(f => f.head.isDigit || f.startsWith(".")).filter(version(_) < base)
          assert(stale.isEmpty, s"$store keeps files older than $base.snapshot: ${stale.sorted}")
        }
      }
    }

    it("drains a checkpoint RocksDB wrote, on the provider its offset log records") {
      TickDrain.zone("graft_ckpt_rocks") { zone =>
        zone.land("a.csv", TickDrain.firstRows)
        Session.withConf(spark, TickDrain.rocksDb: _*)(zone.drain())
        zone.land("b.csv", TickDrain.closingRows)
        zone.drain()
        val offsets = new java.io.File(s"${zone.dir}/ckpt/offsets")
        val newest = offsets.listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
        assert(newest.getName.toLong >= 2, "the second drain ran its own batches")
        assert(scala.io.Source.fromFile(newest).mkString.contains("RocksDBStateStoreProvider"))
        val (out, want) = (zone.written(spark), zone.closedWindows(spark))
        assert(want.count() == 5)
        assert(out.exceptAll(want).isEmpty && want.exceptAll(out).isEmpty)
        assert(out.count() == out.dropDuplicates("symbol", "window_start").count(),
          "a window was emitted twice")
      }
    }
  }
}

/** A StreamingPipeline landing zone in `dir`: CSV increments land in
  * `raw`, a drain appends windows to `out` and checkpoints in `ckpt`. */
class TickDrain(val dir: String) {
  val raw = new java.io.File(dir, "raw")
  raw.mkdirs()

  def land(name: String, rows: Seq[String]): Unit = {
    val w = new java.io.PrintWriter(new java.io.File(raw, name))
    w.println("symbol,timestamp,price,open,high,low,volume")
    rows.foreach(w.println)
    w.close()
  }

  def drain(): Unit = graft.jobs.Pipelines.StreamingPipeline.main(
    Array(raw.getAbsolutePath, s"$dir/out", s"$dir/ckpt"))

  /** The windows the drains appended. */
  def written(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$dir/out").select(TickDrain.windowCols.map(col): _*)

  /** The batch recompute of the landed ticks' windows that start
    * before 13:00: the ones [[TickDrain.closingRows]] closes. */
  def closedWindows(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    val ticks = graft.operators.BatchCleaner.cleanTicks(spark.read
      .schema(graft.sources.Schemas.rawTick).option("header", "true").csv(raw.getAbsolutePath))
    TickAnalytics.windowAggregates(ticks, "15 minutes")
      .filter(col("window_start") < Timestamp.valueOf("2024-01-01 13:00:00"))
      .select(TickDrain.windowCols.map(col): _*)
  }

  /** The windowed aggregate's state-store directories, one per partition. */
  def stores: Seq[java.io.File] =
    new java.io.File(s"$dir/ckpt/state/0").listFiles().filter(_.getName.forall(_.isDigit)).toSeq
}

object TickDrain {
  /** Runs `body` on a zone in a temporary directory, deleted afterwards. */
  def zone[T](prefix: String)(body: TickDrain => T): T = TempDir(prefix)(d => body(new TickDrain(d)))

  val firstRows = Seq(
    "AAPL,2024-01-01 10:00:00,10.0,10,10,10,1", "AAPL,2024-01-01 10:05:00,12.0,12,12,12,2",
    "MSFT,2024-01-01 10:02:00,50.0,50,50,50,1", "AAPL,2024-01-01 10:16:00,13.0,13,13,13,3")
  val closingRows = Seq(
    "MSFT,2024-01-01 10:31:00,52.0,52,52,52,2", "AAPL,2024-01-01 10:47:00,14.0,14,14,14,1",
    "MSFT,2024-01-01 10:40:00,51.5,51,52,51,4",
    // closes every window above: watermark 12:30
    "AAPL,2024-01-01 13:00:00,1.0,1,1,1,1")

  val windowCols = Seq("symbol", "window_start", "window_end", "ma", "volatility", "volume_sum")

  /** The state-store confs StreamingPipeline set before it moved to the
    * default provider: RocksDB, a full snapshot per commit. */
  val rocksDb: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "false")
}
