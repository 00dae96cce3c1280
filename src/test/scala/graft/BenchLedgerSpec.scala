package graft

import org.scalatest.funspec.AnyFunSpec

/** The bench-ledger pollution guards (r16 judge finding: an ad-hoc
  * subset run on a host at factor 4.22 merged its inflated mins into
  * `bench_ledger.json`, corrupting the next round's vs_prev 2× retry
  * gate; the same merge path would also mix mins across scale
  * factors). The write decision and the parse are pure functions so
  * the guard is testable without running a bench; the host canary's
  * fold shape is checked from its plan, untimed. */
class BenchLedgerSpec extends AnyFunSpec {
  private val Sf01 = "/root/testdata/sf0.1"

  describe("parseLedger") {
    it("reads the sf-keyed format: recorded sf plus per-query mins") {
      val (sf, mins) = Bench.parseLedger(
        """{"sf":"/root/testdata/sf0.1","mins":{"q_a":1.25,"q_b":0.5}}""")
      assert(sf.contains(Sf01))
      assert(mins == Map("q_a" -> 1.25, "q_b" -> 0.5))
    }
    it("reads the legacy flat format as mins with no recorded sf") {
      val (sf, mins) = Bench.parseLedger("""{"q_a":1.25,"q_b":0.5}""")
      assert(sf.isEmpty && mins == Map("q_a" -> 1.25, "q_b" -> 0.5))
      // legacy ledgers were only ever written by sf0.1 driver runs
      assert(Bench.ledgerSfOrDefault(sf) == Sf01)
    }
    it("does not read the quoted sf value as a query min") {
      val (_, mins) = Bench.parseLedger("""{"sf":"/d/sf0.01","mins":{"q_a":2.0}}""")
      assert(!mins.contains("sf") && mins == Map("q_a" -> 2.0))
    }
  }

  describe("ledgerWriteAllowed") {
    it("allows a quiet-host same-sf run (the driver's full-run shape)") {
      assert(Bench.ledgerWriteAllowed(1.13, Some(Sf01), Sf01, None))
      assert(Bench.ledgerWriteAllowed(1.5, None, Sf01, None))
    }
    it("refuses a loaded-host run (the r16 pollution episode)") {
      assert(!Bench.ledgerWriteAllowed(4.22, Some(Sf01), Sf01, None))
      assert(!Bench.ledgerWriteAllowed(1.51, Some(Sf01), Sf01, None))
    }
    it("refuses a run at a different sf than the ledger's recorded sf") {
      assert(!Bench.ledgerWriteAllowed(1.0, Some(Sf01), "/root/testdata/sf0.01", None))
      // legacy flat ledger defaults to sf0.1 — an sf0.01 run still refused
      assert(!Bench.ledgerWriteAllowed(1.0, None, "/root/testdata/sf0.01", None))
    }
    it("SPARK_GRAFT_LEDGER forces: 1 re-seeds through any guard, 0 refuses any write") {
      assert(Bench.ledgerWriteAllowed(4.22, Some(Sf01), "/d/other", Some("1")))
      assert(!Bench.ledgerWriteAllowed(1.0, Some(Sf01), Sf01, Some("0")))
    }
  }

  describe("HostCanary.fold") {
    it("folds one task of RowsPerTask rows per core: 4 partitions over 125,000,000 rows at local[4]") {
      val range = HostCanary.fold(SharedSpark.spark).queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.Range => r
      }.get
      assert(range.numSlices.contains(4))
      assert(range.start == 0L && range.end == 125000000L && range.step == 1L)
    }
  }
}
