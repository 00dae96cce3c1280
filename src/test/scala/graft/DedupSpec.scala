package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.scalatest.funspec.AnyFunSpec
import graft.functions.Funcs.hash60
import graft.operators.Dedup

class DedupSpec extends AnyFunSpec {
  import SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different words about spark window functions and shuffles here"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),   // exact dup of 1
    (5L, "tiny doc"))
    .toDF("doc_id", "text")

  /** MinHash signatures via explode → hash-once-per-shingle →
    * `numHashes` partial `min` aggregates, by the one-base-hash +
    * affine-permutation family the native `minhash_sig`
    * ([[graft.plans.MinHashSig]]) computes:
    *   base  = hash60(shingle) mod 2^30
    *   h_i   = ((2i+1)·base + 7919·i) mod p30    (p30 = 1073741821)
    * The aggregation-form reference the native signature is tested
    * against. */
  private def minhashSigAgg(shingled: DataFrame, numHashes: Int): DataFrame = {
    val ex = shingled.select($"doc_id", explode($"shingles").as("s"))
      .withColumn("h", hash60($"s") % 1073741824L)
    val mins = (0 until numHashes).map { i =>
      min(($"h" * (i * 2 + 1) + i * 7919L) % 1073741821L).as(s"__m$i")
    }
    ex.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
      .select($"doc_id", array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** SimHash via explode → hash-once-per-token → 60 partial bit-sum
    * aggregates (Σ ±1 per bit), the signature assembled from the sums:
    * the aggregation-form reference of the native `simhash_sig`
    * ([[graft.plans.SimHashSig]]). */
  private def simhashAgg(docs: DataFrame, bits: Int = 60): DataFrame = {
    val ex = docs.select($"doc_id", explode(array_distinct(split($"text", " "))).as("t"))
      .withColumn("h", hash60($"t"))
    val sums = (0 until bits).map { j =>
      sum(when(shiftright($"h", j).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"__b$j")
    }
    ex.groupBy($"doc_id").agg(sums.head, sums.tail: _*)
      .select($"doc_id",
        (0 until bits).map(j => when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  describe("keepFirst") {
    it("keeps the lowest-order row per key and is idempotent") {
      val df = Seq((1L, "a", 10), (2L, "a", 5), (3L, "b", 7), (4L, "a", 5))
        .toDF("id", "k", "v")
      val once = Dedup.keepFirst(df, Seq("k"), Seq($"v", $"id"))
      val twice = Dedup.keepFirst(once, Seq("k"), Seq($"v", $"id"))
      assert(once.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((2L, "a", 5), (3L, "b", 7))) // id=2 beats id=4 on tie via id order
      assert(once.exceptAll(twice).isEmpty)
    }
  }

  describe("minhashLshPairs") {
    it("finds the planted exact and near duplicates, not the unrelated doc") {
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 4L))) // exact dup always survives
      assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    }
  }

  describe("fuzzyEditPairs") {
    it("verifies banded candidates with the exact edit distance") {
      val pairs = Dedup.fuzzyEditPairs(docs, "doc_id", "text", maxDist = 10, prefixLen = 160)
        .as[(Long, Long, Int)].collect().toSet
      // exact dup: distance 0; near-dup 1~2 differ only by today→tonight
      assert(pairs.contains((1L, 4L, 0)))
      assert(pairs.exists(p => Set((p._1, p._2)).contains((1L, 2L)) && p._3 > 0 && p._3 <= 5))
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    }
    it("matches the unbounded levenshtein on every emitted pair") {
      val out = Dedup.fuzzyEditPairs(docs, "doc_id", "text", maxDist = 40, prefixLen = 160)
      val byId = docs.as[(Long, String)].collect().toMap
      out.as[(Long, Long, Int)].collect().foreach { case (a, b, d) =>
        val (sa, sb) = (byId(a).take(160), byId(b).take(160))
        val brute = {
          val dp = Array.tabulate(sb.length + 1)(identity)
          for (i <- 1 to sa.length) {
            var prev = dp(0); dp(0) = i
            for (j <- 1 to sb.length) {
              val cur = dp(j)
              dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
                prev + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
              prev = cur
            }
          }
          dp(sb.length)
        }
        assert(d == brute, s"pair ($a,$b)")
      }
    }
  }

  describe("containmentPairs") {
    it("scores an embedded excerpt at 1.0 toward its superset, asymmetric back") {
      val d = Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2L, "alpha beta gamma delta epsilon"), // strict prefix of 1
        (3L, "unrelated words entirely disjoint from both other documents"))
        .toDF("doc_id", "text")
      val m = Dedup.containmentPairs(d, "doc_id", "text", threshold = 0.0)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(m((2L, 1L)) == 1.0)     // all of 2's shingles are in 1
      assert(m((1L, 2L)) < 1.0)      // 1 is not contained in 2
      assert(!m.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    }
    it("emits both directions of every intersecting pair above threshold 0") {
      val out = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out.map(p => (p._2, p._1)) == out)
    }
  }

  describe("ngramJaccardPairs") {
    it("scores the exact duplicate at 1.0") {
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.1)
      val exact = pairs.filter($"id1" === 1 && $"id2" === 4).select("jaccard").as[Double].head()
      assert(exact == 1.0)
    }
    it("is symmetric in its inputs (id1 < id2 canonical form)") {
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.0)
      assert(pairs.filter($"id1" >= $"id2").isEmpty)
    }
    it("prefix-filtered variant returns exactly the same pairs") {
      val plain = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3)
      val pref = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", threshold = 0.3)
      assert(plain.exceptAll(pref).isEmpty && pref.exceptAll(plain).isEmpty)
    }
  }

  describe("word_shingles native expression") {
    it("equals the built-in lambda form on real docs and on edge spacing") {
      val edge = Seq((900001L, ""), (900002L, "a"), (900003L, "a b"),
        (900004L, "a b c"), (900005L, "a  b c"), (900006L, " a b c "),
        (900007L, "x y z x y z x y z")).toDF("doc_id", "text")
      val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
        .select($"doc_id", $"text").limit(200).union(edge)
      val native = docs.select($"doc_id",
        call_function("word_shingles", $"text", lit(3)).as("s"))
      val builtin = docs.select($"doc_id",
        graft.functions.Funcs.wordShingles($"text", 3).as("s2"))
      val mism = native.join(builtin, "doc_id").filter($"s" =!= $"s2")
      assert(mism.isEmpty, mism.take(3).mkString(","))
    }
  }

  describe("minhash_sig native expression") {
    it("equals the aggregation-form signatures on real documents") {
      val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").limit(200)
      val shingled = Dedup.withShingles(docs.select($"doc_id", $"text"), "text", 3)
        .filter(size($"shingles") > 0)
      val native = Dedup.minhashSignatures(docs, "doc_id", "text").select($"doc_id", $"sig")
      val agg = minhashSigAgg(shingled, 32)
      val mismatch = native.join(agg.withColumnRenamed("sig", "sig_agg"), "doc_id")
        .filter($"sig" =!= $"sig_agg")
      assert(mismatch.isEmpty)
      assert(native.count() == agg.count())
    }
    it("incremental dedup equals the full run restricted to fresh-involved pairs") {
      val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      val store = Dedup.minhashSignatures(docs.filter($"doc_id" % 5 =!= 0), "doc_id", "text")
      val fresh = Dedup.minhashSignatures(docs.filter($"doc_id" % 5 === 0), "doc_id", "text")
      val incr = Dedup.minhashLshPairsIncremental(store, fresh, "doc_id")
      val full = Dedup.minhashLshPairs(docs, "doc_id", "text")
        .filter($"id1" % 5 === 0 || $"id2" % 5 === 0)
      assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty)
      assert(incr.count() > 0)
    }
  }

  describe("connectedComponents / dedupGroups") {
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.sources.Staging
    import graft.tools.Probe

    val pinned = Seq("graft.staging.pinThreshold" -> "0")
    /** dedupGroups' rows and id type under `confs`, and whether star
      * contraction ran: its convergence check is the only except-all
      * (`replicaterows`) the call plans. */
    def groups(pairs: DataFrame, confs: (String, String)*): (Set[Row], DataType, Boolean) =
      Session.withConf(spark, confs: _*) {
        val ((rows, t), rec) = Probe.record(spark) {
          val g = Dedup.dedupGroups(pairs)
          (g.collect().toSet, g.schema("doc_id").dataType)
        }
        (rows, t, rec.plans.exists(_.contains("replicaterows")))
      }

    it("labels every vertex with its component minimum across chains and cliques") {
      // components: {1,2,3,4} (a chain), {10,11,12} (a triangle), {20,21}
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
        (10L, 12L), (20L, 21L)).toDF("id1", "id2")
      val groups = Dedup.dedupGroups(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(groups == Set(
        (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
        (10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L),
        (20L, 20L, 2L), (21L, 20L, 2L)))
    }
    it("throws rather than returning partial labels when the iteration cap is too low") {
      // a 6-chain is not a star forest after 1 round of contraction
      val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("id1", "id2")
      intercept[IllegalStateException] {
        Dedup.connectedComponentsStar(chain, "id1", "id2", maxIters = 1).collect()
      }
    }
    val fixtures = Seq(
      // chain + triangle + pair (the group fixture above)
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)),
      // edges arriving in both orientations and duplicated
      Seq((2L, 1L), (1L, 2L), (3L, 2L), (5L, 4L), (4L, 6L)),
      // a star already, plus an isolated long chain
      Seq((7L, 1L), (8L, 1L), (9L, 1L), (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L)))

    it("star contraction equals min-label propagation on chains, cliques and forests") {
      for (fx <- fixtures) {
        // min-label propagation, on the driver: every vertex takes the
        // least label among itself and its neighbours until none moves
        var minLabel = fx.flatMap { case (a, b) => Seq(a -> a, b -> b) }.toMap
        var moved = true
        while (moved) {
          val next = fx.foldLeft(minLabel) { case (l, (a, b)) =>
            val m = math.min(l(a), l(b))
            l.updated(a, m).updated(b, m)
          }
          moved = next != minLabel
          minLabel = next
        }
        val star = Staging.scoped(spark) {
          Dedup.connectedComponentsStar(fx.toDF("id1", "id2"), "id1", "id2")
            .as[(Long, Long)].collect()
        }
        assert(star.length == minLabel.size && star.toMap == minLabel)
      }
    }
    it("driver union-find labels exactly like the distributed forms") {
      for (fx <- fixtures) {
        val pairs = fx.toDF("id1", "id2")
        val (local, _, ranStar) = groups(pairs)
        val star = Dedup.groupsOf(Dedup.connectedComponentsStar(pairs, "id1", "id2")).collect().toSet
        assert(!ranStar && local.nonEmpty && local == star)
      }
    }
    it("takes the same fixpoint below and above the pin dial") {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
        .toDF("id1", "id2")
      val (local, _, smallRanStar) = groups(pairs)
      val (star, _, largeRanStar) = groups(pairs, pinned: _*)
      assert(!smallRanStar && largeRanStar)
      assert(local.nonEmpty && local == star)
    }
    it("local path preserves a non-long integral id type") {
      val pairs = Seq((1, 2), (2, 3), (10, 11)).toDF("id1", "id2") // IntegerType
      for (confs <- Seq(Nil, pinned)) {
        val (rows, t, ranStar) = groups(pairs, confs: _*)
        assert(ranStar == confs.nonEmpty)
        assert(t == IntegerType)
        assert(rows.collect { case Row(3, rep: Int, _) => rep } == Set(1))
      }
    }
    it("the large branch floods a 200-vertex chain into one group") {
      val chain = spark.range(1, 200)
        .select(col("id").as("id1"), (col("id") + 1).as("id2"))
      val (rows, _, ranStar) = groups(chain, pinned: _*)
      assert(ranStar)
      assert(rows.size == 200 && rows.forall(r => r.getLong(1) == 1L && r.getLong(2) == 200L))
    }
    it("mixed-width ids restore to the WIDER type so wide labels never wrap") {
      // id2 carries a value outside Int range; casting the labels back
      // to id1's IntegerType would wrap it silently (non-ANSI cast)
      val pairs = Seq((1, 5000000000L), (1, 2L)).toDF("id1", "id2")
      val groups = Dedup.dedupGroups(pairs)
      assert(groups.schema("doc_id").dataType == LongType)
      assert(groups.filter(col("doc_id") === 5000000000L).select("rep_id")
        .as[Long].head() == 1L)
    }
    it("local path drops null endpoints instead of merging them into vertex 0") {
      val pairs = Seq((Some(0L), Some(1L)), (None, Some(5L)))
        .toDF("id1", "id2")
      val (rows, _, ranStar) = groups(pairs)
      assert(!ranStar)
      // the null edge contributes nothing: 5 must NOT join component 0
      // (getLong on a null used to unbox it to 0L)
      assert(!rows.exists(r => r.get(0) == 5L && r.get(1) == 0L))
      assert(rows.collect { case Row(1L, rep: Long, _) => rep } == Set(0L))
    }
    it("string ids take the star branch and label by component minimum") {
      val pairs = Seq(("b", "a"), ("b", "c"), ("y", "x")).toDF("id1", "id2")
      val (rows, t, ranStar) = groups(pairs)
      assert(ranStar && t == StringType)
      assert(rows == Set(Row("a", "a", 3L), Row("b", "a", 3L), Row("c", "a", 3L),
        Row("x", "x", 2L), Row("y", "x", 2L)))
    }
    it("star contraction converges in O(log n) rounds on a 10k-vertex chain") {
      // THE pathological case for label propagation: diameter 9 999
      // means ~10k rounds there. Star contraction must do it in < 20.
      val n = 10000L
      val chain = spark.range(1, n) // ids 1..n, edges (i, i+1)
        .select(col("id").as("id1"), (col("id") + 1).as("id2"))
      var rounds = -1
      Staging.scoped(spark) {
        val labels = Dedup.connectedComponentsStar(chain, "id1", "id2",
          onConverged = r => rounds = r)
        assert(rounds > 0 && rounds < 20, s"converged in $rounds rounds")
        // one component, labeled by the minimum vertex
        assert(labels.agg(count(lit(1)), countDistinct(col("label")), min(col("label")))
          .as[(Long, Long, Long)].head() == ((n, 1L, 1L)))
      }
    }
  }

  describe("duplicatedSpans") {
    it("measures interval-union token coverage of cross-doc k-grams") {
      // docs 1/2 share the 10-token prefix "a b c d e f g h i j";
      // doc 3 is disjoint; doc 4 is too short for any 8-gram
      val docs = Seq(
        (1L, "a b c d e f g h i j x1 y1 z1 w1 v1 u1"),
        (2L, "a b c d e f g h i j x2 y2 z2 w2 v2 u2"),
        (3L, "p q r s t u v w aa bb cc dd ee ff gg hh"),
        (4L, "tiny doc")
      ).toDF("doc_id", "text")
      val out = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 8)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens")))).toMap
      // shared 8-grams start at tokens 0,1,2 → union covers tokens 0..9 = 10
      assert(out(1L) == ((16L, 10L)))
      assert(out(2L) == ((16L, 10L)))
      assert(out(3L) == ((16L, 0L)))
      assert(out(4L) == ((2L, 0L)))
    }
    it("within-doc repeats do not count as duplication (cross-doc only)") {
      val rep = "a b c d e f g h " * 4 // the same 8-gram many times, one doc
      val docs = Seq((1L, rep.trim), (2L, "q r s t u v w x y z")).toDF("doc_id", "text")
      val out = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 8)
        .filter(col("doc_id") === 1L).select("dup_tokens").as[Long].head()
      assert(out == 0L)
    }
  }

  describe("simhashPairs") {
    it("near-identical docs collide within the Hamming ball; distinct docs do not") {
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 4L)))
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    }
    it("simhash_sig equals simhashAgg on real, one-token and empty docs") {
      val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
        .select($"doc_id".cast("long"), $"text")
        .union(Seq((900001L, "solo"), (900002L, "")).toDF("doc_id", "text"))
      val native = docs.select($"doc_id", call_function("simhash_sig",
        array_distinct(split($"text", " ")), lit(60)).as("sig"))
      val both = native.join(simhashAgg(docs), "doc_id")
      assert(both.count() == docs.count())
      val mism = both.filter($"sig" =!= $"simhash")
      assert(mism.isEmpty, mism.take(3).mkString(","))
    }
    it("banding finds every pair a full pairwise scan finds (pigeonhole)") {
      val sh = simhashAgg(docs)
      val full = sh.as("a").join(sh.as("b"),
          $"a.doc_id" < $"b.doc_id" &&
            expr("bit_count(a.simhash ^ b.simhash)") <= 3)
        .select($"a.doc_id".as("id1"), $"b.doc_id".as("id2"))
      val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        .select("id1", "id2")
      assert(full.exceptAll(banded).isEmpty && banded.exceptAll(full).isEmpty)
    }
  }

  describe("winnowingFingerprints") {
    it("guarantees a shared fingerprint for a shared run >= w+k-1 words") {
      val run = "alpha beta gamma delta epsilon zeta eta theta" // 8 words >= 7
      val docs = Seq(
        (1L, s"unique lead-in words here $run"),
        (2L, s"$run and then a different tail entirely"),
        (3L, "nothing in common with those two documents at all okay"))
        .toDF("doc_id", "text")
      val got = Dedup.winnowingFingerprints(docs, "doc_id", "text")
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(got(1L).getAs[Long]("n_shared") >= 1L)
      assert(got(2L).getAs[Long]("n_shared") >= 1L)
      assert(got(3L).getAs[Long]("n_shared") == 0L)
      // winnowing stores a subset of windows
      got.values.foreach { r =>
        assert(r.getAs[Long]("n_fingerprints") <= r.getAs[Long]("n_windows"))
      }
    }
    it("short docs (under k words) emit no rows") {
      val docs = Seq((1L, "too few words"), (2L, "a b c d e f g h"))
        .toDF("doc_id", "text")
      val got = Dedup.winnowingFingerprints(docs, "doc_id", "text").collect()
      assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
    }
    it("native winnow_fps form is row-identical to the window form") {
      val docs = graft.sources.Tables
        .documents(SharedSpark.spark, "/root/testdata/sf0.001")
      val rel = Dedup.winnowingFingerprints(docs, "doc_id", "text")
      val nat = Dedup.winnowingFingerprintsNative(docs, "doc_id", "text")
      assert(rel.exceptAll(nat).isEmpty && nat.exceptAll(rel).isEmpty)
    }
  }

  describe("lshRecallByBand") {
    it("exact duplicates land in the top band and are always caught") {
      val text = "the quick brown fox jumps over the lazy dog again and again"
      val docs = Seq(
        (1L, text), (2L, text), // identical → jaccard 1.0, same signature
        (3L, "completely different words populate this other document body"),
        (4L, "yet another unrelated set of tokens without overlap at all"))
        .toDF("doc_id", "text")
      val got = Dedup.lshRecallByBand(docs, "doc_id", "text").collect()
      assert(got.length == 1)
      val r = got.head
      assert(r.getAs[Double]("j_lo") == 0.9)
      assert(r.getAs[Long]("n_exact") == 1L && r.getAs[Long]("n_caught") == 1L)
      assert(r.getAs[Double]("recall") == 1.0)
      assert(r.getAs[Double]("expected_recall") ==
        Dedup.lshExpectedRecall(8, 4)(9))
    }
    it("recall is bounded by 1 and bands are decimal-exact on real docs") {
      val got = Dedup.lshRecallByBand(
        graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"),
        "doc_id", "text").collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_exact"))
        val j = r.getAs[Double]("j_lo")
        assert(j >= 0.5 && j <= 0.9 && (j * 10) == math.floor(j * 10))
      }
    }
  }

  describe("urlCanonicalize") {
    def canon(urls: (Long, String)*): Map[Long, (String, String, String)] =
      Dedup.urlCanonicalize(urls.toDF("doc_id", "url"), "url")
        .select($"doc_id", $"canonical_url", $"host", $"registered_domain")
        .as[(Long, String, String, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap

    it("lowercases scheme+host, strips default port/fragment/utm, keeps real params") {
      val got = canon(
        (1L, "HTTPS://News.Example.COM:443/a/b?utm_source=x&ref=home&utm_campaign=y#top"),
        (2L, "https://news.example.com/a/b?ref=home"),
        (3L, "HTTP://news.example.com:80/a/b"),
        (4L, "http://news.example.com:8080/a/b"),
        (5L, "https://cdn.static.example.co/x"))
      // 1 and 2 collapse to the same canonical URL
      assert(got(1L) == got(2L))
      assert(got(1L)._1 == "https://news.example.com/a/b?ref=home")
      assert(got(3L)._1 == "http://news.example.com/a/b")
      // a NON-default port is a different origin and must survive
      assert(got(4L)._2 == "news.example.com:8080")
      assert(got(4L)._1 == "http://news.example.com:8080/a/b")
      // registered domain = last two labels, port-free
      assert(got(1L)._3 == "example.com")
      assert(got(4L)._3 == "example.com")
      assert(got(5L)._3 == "example.co")
    }

    it("drops a query that is ONLY utm params (no dangling '?')") {
      val got = canon((1L, "https://a.example.com/p?utm_source=x&utm_medium=y"))
      assert(got(1L)._1 == "https://a.example.com/p")
    }

    it("keeps param order — reordered params stay distinct URLs") {
      val got = canon(
        (1L, "https://a.example.com/p?a=1&b=2"),
        (2L, "https://a.example.com/p?b=2&a=1"))
      assert(got(1L)._1 != got(2L)._1)
    }

    it("passes scheme-less / protocol-relative URLs through UNCHANGED") {
      // No trustworthy authority → never merged with anything it
      // didn't byte-equal; host/registered_domain NULL.
      val got = canon(
        (1L, "example.com/p?utm_source=x"),
        (2L, "//other.example.com/p#frag"),
        (3L, "https://a.example.com/p"))
      assert(got(1L) == (("example.com/p?utm_source=x", null, null)))
      assert(got(2L) == (("//other.example.com/p#frag", null, null)))
      assert(got(3L)._2 == "a.example.com")
      // distinct scheme-less URLs on different hosts stay distinct
      // through the rollup (the over-merge hazard this guard closes)
      val roll = Dedup.urlGrainRollup(Dedup.urlCanonicalize(
        Seq((1L, "hostA.example.com/p"), (2L, "hostB.example.com/p"))
          .toDF("doc_id", "url"), "url"))
        .select($"n_docs", $"n_urls").as[(Long, Long)].collect().toSeq
      assert(roll == Seq((2L, 2L)))
    }

    it("the host rollup counts docs vs distinct canonical urls") {
      val df = Seq(
        (1L, "https://a.example.com/p?utm_source=x"),
        (2L, "HTTPS://A.Example.Com/p"),
        (3L, "https://a.example.com/q"),
        (4L, "https://b.example.com/p"))
        .toDF("doc_id", "url")
      val got = Dedup.urlGrainRollup(Dedup.urlCanonicalize(df, "url"))
        .orderBy("host")
        .select($"host", $"n_docs", $"n_urls", $"first_doc_id", $"dup_ratio")
        .as[(String, Long, Long, Long, Double)].collect().toSeq
      assert(got == Seq(
        ("a.example.com", 3L, 2L, 1L, 0.333333),
        ("b.example.com", 1L, 1L, 4L, 0.0)))
    }
  }
}
