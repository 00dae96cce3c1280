package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import graft.operators.BatchCleaner
import graft.sources.{RawSources, Schemas}

/** S1 + P1-P6/P10: raw CSV → clean bars, including every drop rule.
  * Fixture follows FIXTURES.md §2 (bad rows the cleaner must drop). */
class BatchCleanerSpec extends AnyFunSpec {
  import SharedSpark.spark

  /** Runs `body` on a raw landing directory holding the fixture CSV. */
  private def withFixtureCsv[T](body: String => T): T = TempDir("graft_raw") { dir =>
    val f = new java.io.File(dir, "part-0.csv")
    val w = new java.io.PrintWriter(f)
    w.println("symbol,date,daily_open,daily_high,daily_low,daily_close,daily_volume,batch_load_timestamp")
    w.println("aapl,2024-01-02,10,12,9,11,1000,2024-01-03T00:00:00")
    w.println("AAPL,2024-01-03,11,13,10,12,1100,2024-01-04T00:00:00")
    w.println("AAPL,2024-01-03,11,13,10,12,1100,2024-01-04T00:00:00") // dup (symbol,date)
    w.println("MSFT,2024-01-02,20,22,19,-5,900,2024-01-03T00:00:00")  // close <= 0
    w.println(",2024-01-02,5,6,4,5,500,2024-01-03T00:00:00")          // null symbol
    w.println("MSFT,2024-01-03,20,22,19,21,-10,2024-01-03T00:00:00")  // negative volume
    w.println("MSFT,2099-01-01,20,22,19,21,800,2024-01-03T00:00:00")  // future date
    w.close()
    body(dir)
  }

  describe("BatchCleaner.cleanDailyBars") {
    it("applies renames, casts, filters and dedup exactly like the reference job") {
      withFixtureCsv { csv =>
        val raw = RawSources.rawDailyBars(spark, csv)
        val clean = BatchCleaner.cleanDailyBars(raw, today = lit("2024-02-01").cast("date"))
        val rows = clean.orderBy("symbol", "trade_date").collect()

        assert(rows.length == 2) // aapl d1 + AAPL d2 (dedup'd); all bad rows dropped
        assert(rows.forall(_.getAs[String]("symbol") == "AAPL")) // upper(trim)
        assert(clean.columns.toSet == Set("symbol", "trade_date", "open_price", "high_price",
          "low_price", "close_price", "volume", "batch_loaded_at"))
        assert(rows.head.getAs[java.sql.Date]("trade_date").toString == "2024-01-02")
        assert(rows.head.getAs[Double]("close_price") == 11.0)
      }
    }

    it("reads with the explicit schema — no inference") {
      withFixtureCsv { csv =>
        val raw = RawSources.rawDailyBars(spark, csv)
        assert(raw.schema == Schemas.rawDailyBar)
      }
    }
  }
}
