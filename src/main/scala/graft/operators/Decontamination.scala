package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions.Funcs._

/** Eval-set decontamination: flag corpus documents that share too much
  * n-gram surface with a benchmark/eval set — the step that keeps
  * test data out of a training corpus.
  *
  * Shape at 100 TB: the EVAL side is small (benchmarks are thousands
  * of docs), so its distinct shingle-hash set broadcasts; the corpus
  * side is the shared shingle path ([[Dedup.shingledDocs]], spread by
  * id) → one explode → broadcast-hash semi-match → per-doc count, which
  * partial-aggregates map-side. Shingles travel as 60-bit hashes
  * (never strings), computed once per (doc, shingle).
  */
object Decontamination {

  /** The eval set's distinct 60-bit shingle hashes (`sh`), the universe
    * both scorers match against. The eval side is small, so it is
    * neither spread nor filtered (a shingle-less doc explodes to no
    * rows). */
  private def evalShingleHashes(evalDocs: DataFrame, evalTextCol: String, n: Int): DataFrame =
    Dedup.withShingles(evalDocs.select(col(evalTextCol)), evalTextCol, n)
      .select(explode(col("shingles")).as("s"))
      .select(hash60(col("s")).as("sh"))
      .distinct()

  /** Per-corpus-doc overlap against the eval set's shingle universe:
    * (id, n_shingles, matched, overlap_ratio). `overlap_ratio` is the
    * fraction of the doc's distinct n-grams that appear ANYWHERE in
    * the eval set — the standard contamination score; callers
    * threshold it (0.8 catches verbatim inclusions, 0.2 catches
    * paraphrase-with-quotes). */
  def contaminationScores(corpus: DataFrame, idCol: String, textCol: String,
                          evalDocs: DataFrame, evalTextCol: String,
                          n: Int = 3): DataFrame = {
    val ex = Dedup.shingleHashes(Dedup.shingledDocs(corpus, idCol, textCol, n), idCol)
    val evalSh = evalShingleHashes(evalDocs, evalTextCol, n)
    ex.join(broadcast(evalSh).withColumn("__hit", lit(1)), Seq("sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).as("matched"))
      .select(col(idCol), col("n_shingles"), col("matched"),
        r4(col("matched") / col("n_shingles").cast("double")).as("overlap_ratio"))
  }

  /** [[contaminationScores]] with a BLOOM-FILTER prefilter on the
    * corpus side — the shape for when the eval shingle universe is too
    * big to ship as a broadcast-hash relation (a full benchmark stack
    * is easily 10⁸ shingles ≈ GBs hashed, but ~7 bits/item ≈ tens of
    * MB as a bloom). The bloom is built in ONE partial-aggregable pass
    * over the eval side (Spark's own BloomFilterAggregate, exposed as
    * `bloom_filter_agg` by [[graft.plans.GraftExtensions]]), collected
    * once (bounded by numBits, not data — "train small, broadcast"),
    * and embedded as a binary literal, so the corpus scan stays one
    * narrow filter pass. Only the surviving ~fpp fraction re-joins the
    * eval set for exact verification — a bloom has NO false negatives,
    * so the result is IDENTICAL to [[contaminationScores]] (tested;
    * same oracle), only the plan changes.
    */
  def contaminationScoresBloom(corpus: DataFrame, idCol: String, textCol: String,
                               evalDocs: DataFrame, evalTextCol: String,
                               n: Int = 3): DataFrame = {
    val ex = Dedup.shingleHashes(Dedup.shingledDocs(corpus, idCol, textCol, n), idCol)
    val evalSh = evalShingleHashes(evalDocs, evalTextCol, n)
    // the two eval-side jobs (count + bloom build) are bounded by the
    // EVAL corpus — small by construction; default sizing ≈ 7.2
    // bits/item at 3% fpp (Spark's BloomFilter.optimalNumOfBits)
    val nEval = math.max(evalSh.count(), 1L)
    val bloom = evalSh
      .agg(call_function("bloom_filter_agg", col("sh"), lit(nEval)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val totals = ex.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    // narrow prefilter (no false negatives) → exact verify on the
    // survivors only; NOT broadcast by hint — the premise is an eval
    // side above the broadcast threshold (AQE may still choose to)
    val matched = ex
      .filter(call_function("bloom_might_contain", lit(bloom), col("sh")))
      .join(evalSh, "sh")
      .groupBy(col(idCol)).agg(count(lit(1)).as("matched"))
    totals.join(matched, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("matched"), lit(0L)).as("matched"),
        r4(coalesce(col("matched"), lit(0L)) / col("n_shingles").cast("double")).as("overlap_ratio"))
  }

  /** Aho–Corasick automaton over a fixed needle set (Aho & Corasick,
    * CACM 1975): one linear pass over a text reports every needle
    * that occurs as a SUBSTRING, in time O(|text| + matches) —
    * independent of how many needles the automaton holds. Standard
    * goto/fail construction with dictionary-suffix links, so the
    * match walk touches only nodes that actually end a needle (never
    * the full fail chain). Duplicate needle strings each keep their
    * own slot (a hit reports all of them — the contains-join
    * contract). Serializable: built once on the driver, broadcast to
    * executors. */
  final class AhoCorasick(needles: Array[String]) extends Serializable {
    import scala.collection.mutable
    private val goto_ = mutable.ArrayBuffer(mutable.HashMap.empty[Char, Int])
    private val ends = mutable.ArrayBuffer(List.empty[Int])
    needles.zipWithIndex.foreach { case (s, i) =>
      var u = 0
      s.foreach { c =>
        u = goto_(u).getOrElseUpdate(c, {
          goto_ += mutable.HashMap.empty[Char, Int]
          ends += Nil
          goto_.length - 1
        })
      }
      ends(u) = i :: ends(u)
    }
    private val fail = Array.fill(goto_.length)(0)
    private val dict = Array.fill(goto_.length)(0) // nearest match-ending fail ancestor
    locally {
      val q = mutable.Queue.empty[Int]
      goto_(0).valuesIterator.foreach(q.enqueue)
      while (q.nonEmpty) {
        val u = q.dequeue()
        dict(u) = if (ends(fail(u)).nonEmpty) fail(u) else dict(fail(u))
        goto_(u).foreach { case (c, v) =>
          var f = fail(u)
          while (f != 0 && !goto_(f).contains(c)) f = fail(f)
          fail(v) = goto_(f).get(c).filter(_ != v).getOrElse(0)
          q.enqueue(v)
        }
      }
    }
    /** Distinct needle slots occurring in `text`, ascending. */
    def matchedIn(text: String): Array[Int] = {
      val hit = new java.util.BitSet(needles.length)
      var s = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        while (s != 0 && !goto_(s).contains(c)) s = fail(s)
        s = goto_(s).getOrElse(c, 0)
        var u = if (ends(s).nonEmpty) s else dict(s)
        while (u != 0) {
          ends(u).foreach(hit.set)
          u = dict(u)
        }
        i += 1
      }
      val out = Array.newBuilder[Int]
      var b = hit.nextSetBit(0)
      while (b >= 0) { out += b; b = hit.nextSetBit(b + 1) }
      out.result()
    }
  }

  /** Multi-needle contamination scan: every (doc, needle) pair where
    * the needle occurs verbatim in the doc — the sweep a release runs
    * against its WHOLE benchmark stack at once. The n-gram lanes
    * above pay one explode per shingle length per needle set; this
    * lane builds ONE [[AhoCorasick]] automaton from all needles
    * (driver-side, bounded by `maxNeedles` — benchmark suites are
    * 10³-10⁵ strings, the same documented driver bound as
    * [[Sampling]]'s per-stratum maps), broadcasts it, and scans each
    * doc in a single narrow mapPartitions pass: corpus cost is
    * O(total text length), SUBLINEAR in needle count (the automaton
    * absorbs needle growth; the scan does not slow down).
    *
    * Returns distinct (doc_id, needle_id) hit pairs — grain chosen so
    * callers roll up per doc (contamination score), per needle
    * (which benchmark leaked), or per (source × benchmark) without
    * re-scanning. */
  def multiNeedleHits(corpus: DataFrame, idCol: String, textCol: String,
                      needles: DataFrame, needleIdCol: String, needleCol: String,
                      maxNeedles: Int = 200000): DataFrame = {
    val nd = needles
      .select(col(needleIdCol).cast("long"), col(needleCol).cast("string"))
      .filter(col(needleCol).isNotNull && length(col(needleCol)) > 0)
      .collect() // bounded: maxNeedles needle strings (require below)
    require(nd.length <= maxNeedles,
      s"multiNeedleHits: ${nd.length} needles exceed maxNeedles=$maxNeedles")
    val ids = nd.map(_.getLong(0))
    val ac = new AhoCorasick(nd.map(_.getString(1)))
    val bc = corpus.sparkSession.sparkContext.broadcast((ac, ids))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("needle_id", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    Dedup.spreadById(corpus, idCol, textCol)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .mapPartitions { rows =>
        val (auto, nids) = bc.value
        rows.flatMap { r =>
          // NULL doc_id rows are dropped like NULL text (the needle
          // side already filters its NULLs) — never an NPE mid-scan.
          if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
          else {
            val id = r.getLong(0)
            auto.matchedIn(r.getString(1)).iterator.map(s => Row(id, nids(s)))
          }
        }
      }(enc)
      .distinct() // duplicate needle STRINGS may share an id space hit
  }
}
