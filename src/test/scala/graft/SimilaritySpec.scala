package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends AnyFunSpec {
  import SharedSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  describe("quantized cosine") {
    it("self-similarity of a duplicated vector is ~1") {
      val v = Seq((1L, Array.fill(64)(0.125f)), (2L, Array.fill(64)(0.125f)),
        (3L, (Array.fill(32)(0.125f) ++ Array.fill(32)(-0.125f))))
        .toDF("vec_id", "embedding")
      val top = Similarity.bruteForceTopK(v, v.filter($"vec_id" === 1), "vec_id", "embedding", 1)
        .select("corpus_id", "cosine").as[(Long, Double)].head()
      assert(top._1 == 2L && top._2 == 1.0)
    }
    it("quantization error vs float cosine is below 1e-4 on real embeddings") {
      val emb = Tables.embeddings(spark, dir).limit(50)
      val q = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" % 25 === 0),
        "vec_id", "embedding", 5)
      // recompute in float space
      val f = emb.select($"vec_id", $"embedding")
      val pairs = q.join(f.select($"vec_id".as("query_id"), $"embedding".as("qv")), "query_id")
        .join(f.select($"vec_id".as("corpus_id"), $"embedding".as("cv")), "corpus_id")
        .withColumn("fcos",
          aggregate(zip_with($"qv", $"cv", (a, b) => a.cast("double") * b.cast("double")),
            lit(0.0), (acc, x) => acc + x) /
            (sqrt(aggregate($"qv", lit(0.0), (a, x) => a + x.cast("double") * x.cast("double"))) *
             sqrt(aggregate($"cv", lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")))))
      assert(pairs.filter(abs($"cosine" - $"fcos") > 1e-4).isEmpty)
    }
  }

  describe("hardNegatives") {
    it("cuts the near-dup band BEFORE ranking so later negatives back-fill the ranks") {
      // corpus: an exact dup of the query (cos 1), a close item, and
      // two progressively farther ones
      val mk = (s: Float) => Array.tabulate(4)(i => if (i == 0) 1f else s)
      val corpus = Seq(
        (2L, mk(0.0f)),                     // exact dup of the query direction
        (3L, Array(1f, 0.5f, 0f, 0f)),      // close
        (4L, Array(1f, 1f, 1f, 0f)),        // farther
        (5L, Array(0f, 1f, 0f, 0f)))        // orthogonal-ish
        .toDF("vec_id", "embedding")
      val query = Seq((1L, mk(0.0f))).toDF("vec_id", "embedding")
      val topk = Similarity.bruteForceTopK(corpus, query, "vec_id", "embedding", 3)
        .select("corpus_id").as[Long].collect().toSeq
      assert(topk == Seq(2L, 3L, 4L)) // the dup leads the plain top-k
      val hard = Similarity.hardNegatives(corpus, query, "vec_id", "embedding",
          k = 3, dupThreshold = 0.95)
        .select("corpus_id", "rank").as[(Long, Int)].collect().toSeq
      // the cos-1 dup is cut; ranks re-pack from the closest TRUE negative
      assert(hard == Seq((3L, 1), (4L, 2), (5L, 3)))
      // filtering AFTER top-k would instead have truncated the list:
      assert(topk.filterNot(_ == 2L).length == 2)
    }
  }

  describe("annTopK") {
    it("returns a subset of brute-force results restricted to shared buckets, ranked consistently") {
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter($"vec_id" % 50 === 0)
      val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding", k = 3, numPlanes = 4)
      // rank is contiguous from 1 per query
      val badRank = ann.groupBy("query_id")
        .agg(max("rank").as("mx"), count(lit(1)).as("n"))
        .filter($"mx" =!= $"n")
      assert(badRank.isEmpty)
      // every reported neighbor really is in the query's bucket: cosine is exact
      assert(ann.filter($"cosine" > 1.0001 || $"cosine" < -1.0001).isEmpty)
    }
  }

  describe("annTopK multi-probe") {
    it("visiting Hamming-1 buckets can only improve recall vs single-probe") {
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter($"vec_id" % 50 === 0)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      def recall(multi: Boolean) = {
        val got = Similarity.annTopK(emb, queries, "vec_id", "embedding",
          k = 5, numPlanes = 6, multiProbe = multi)
          .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
        exact.intersect(got).size.toDouble / exact.size
      }
      val single = recall(multi = false)
      val multi = recall(multi = true)
      assert(multi >= single, s"multi=$multi single=$single")
      // absolute recall is inherently weak on 50 uniform-random vectors
      // (no true near neighbors); monotonicity is the real property
      assert(multi >= 0.2, s"multi-probe recall too low: $multi")
    }
  }

  describe("ivfTopK") {
    it("achieves high recall vs brute force with a fraction of the comparisons") {
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter($"vec_id" % 50 === 0)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        numCells = 8, nprobe = 3)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      val recall = exact.intersect(ivf).size.toDouble / exact.size
      assert(recall >= 0.5, s"recall $recall") // 3/8 cells probed
      // ranks are contiguous per query
      val ranks = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        numCells = 8, nprobe = 3)
        .groupBy("query_id").agg(max("rank").as("mx"), count(lit(1)).as("n"))
      assert(ranks.filter($"mx" =!= $"n").isEmpty)
    }
  }

  describe("pqTopK") {
    it("separates far clusters: queries from cluster A rank only A vectors first") {
      // two tight clusters far apart; 4 points each + 1 query per side
      def mk(id: Long, base: Float, wiggle: Float) =
        (id, Array.tabulate(64)(i => base + (if (i == (id % 64).toInt) wiggle else 0f)))
      val a = (1L to 4L).map(mk(_, 1.0f, 0.01f))
      val b = (101L to 104L).map(mk(_, -1.0f, 0.01f))
      val corpus = (a ++ b).toDF("vec_id", "embedding")
      val queries = Seq(mk(1L, 1.0f, 0.01f)).toDF("vec_id", "embedding")
      val top = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        k = 3, m = 8, ksub = 4)
        .select("corpus_id").as[Long].collect().toSet
      assert(top.subsetOf(Set(2L, 3L, 4L)), s"got $top")
    }
    it("achieves reasonable recall vs brute force on real embeddings") {
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter($"vec_id" % 50 === 0)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
        m = 32, ksub = 16, refineIters = 1)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      // near-random synthetic vectors are PQ's worst case; with 32
      // Lloyd-trained subspaces ~half the true neighbors still rank
      val recall = exact.intersect(pq).size.toDouble / exact.size
      assert(recall >= 0.4, s"recall $recall")
      // Lloyd refinement must beat the raw sampled codebook
      val sampled = Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
        m = 32, ksub = 16, refineIters = 0)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      assert(recall >= exact.intersect(sampled).size.toDouble / exact.size)
      // deterministic end-to-end
      val again = Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
        m = 32, ksub = 16, refineIters = 1)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      assert(pq == again)
    }
    it("exact duplicates of a query get identical ADC distance") {
      val v = Array.tabulate(64)(i => (i % 7).toFloat / 7f)
      val far = Array.fill(64)(-3f)
      val corpus = Seq((10L, v), (11L, v), (12L, far)).toDF("vec_id", "embedding")
      val queries = Seq((1L, v)).toDF("vec_id", "embedding")
      val rows = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        k = 3, m = 8, ksub = 2)
        .select("corpus_id", "adc_dist").as[(Long, Long)].collect().toMap
      assert(rows(10L) == rows(11L))
      assert(rows(12L) > rows(10L))
    }
  }

  describe("ivfAssign") {
    it("assigns every vector to exactly one in-range cell, deterministically") {
      val emb = Tables.embeddings(spark, dir)
      val asg = Similarity.ivfAssign(emb, "vec_id", "embedding", numCells = 8)
      assert(asg.count() == emb.count())
      assert(asg.filter($"cell" < 0 || $"cell" >= 8).isEmpty)
      val again = Similarity.ivfAssign(emb, "vec_id", "embedding", numCells = 8)
      assert(asg.select("id", "cell").exceptAll(again.select("id", "cell")).isEmpty)
    }
  }

  describe("quantize_vec native expression") {
    it("equals the lambda form element for element, negatives and odd halves included") {
      val vals = Array(0.25f, -0.5f, 0.1234565f, -0.9999995f, 1.5e-7f, 0f, -0f, 3.2f)
      val df = Seq((1L, vals ++ Array.fill(56)(0.7071f))).toDF("vec_id", "embedding")
      val native = df.select(call_function("quantize_vec", $"embedding", lit(6)).as("q"))
      val lambda = df.select(
        transform($"embedding", x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("q"))
      assert(native.exceptAll(lambda).isEmpty && lambda.exceptAll(native).isEmpty)
    }
  }

  describe("randomProject") {
    it("is linear and exactly integer: proj(2v) = 2 * proj(v), proj(0) = 0") {
      val v = Array.tabulate(64)(i => if (i % 2 == 0) 0.25f else -0.5f)
      val df = Seq((1L, v), (2L, v.map(_ * 2)), (3L, Array.fill(64)(0.0f)))
        .toDF("vec_id", "embedding")
      val m = Similarity.randomProject(df, "vec_id", "embedding", outDim = 8)
        .collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[scala.collection.Seq[Long]]("proj").toSeq)
        .toMap
      assert(m(1L).size == 8)
      assert(m(2L) == m(1L).map(_ * 2))
      assert(m(3L).forall(_ == 0L))
    }
  }

  describe("groupCentroids") {
    it("the prototype of identical vectors is the vector; mixed groups floor-average") {
      val v = Array.tabulate(64)(i => 0.25f + 0.001f * i)
      val df = Seq((0, v), (0, v), (1, v), (1, v.map(_ * 3))).toDF("label", "embedding")
      val out = Similarity.groupCentroids(df, "label", "embedding")
        .collect().map(r => r.getAs[Int]("grp") ->
          (r.getAs[Long]("n_vecs"), r.getAs[scala.collection.Seq[Long]]("centroid").toSeq))
        .toMap
      val q = v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
      assert(out(0) == ((2L, q.toSeq)))
      val q3 = v.map(_ * 3).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
      val expect1 = q.zip(q3).map { case (a, b) => Math.floorDiv(a + b, 2L) }.toSeq
      assert(out(1) == ((2L, expect1)))
    }
  }

  describe("kmeansRefine") {
    it("iters=0 equals the seeded assignment; one round keeps a total in-range assignment") {
      val emb = Tables.embeddings(spark, dir)
      val seeded = Similarity.ivfAssign(emb, "vec_id", "embedding", numCells = 8)
        .select("id", "cell")
      val zero = Similarity.kmeansRefine(emb, "vec_id", "embedding", numCells = 8, iters = 0)
      assert(zero.exceptAll(seeded).isEmpty && seeded.exceptAll(zero).isEmpty)
      val one = Similarity.kmeansRefine(emb, "vec_id", "embedding", numCells = 8, iters = 1)
      assert(one.count() == emb.count())
      assert(one.filter($"cell" < 0 || $"cell" >= 8).isEmpty)
    }
    it("refinement pulls the centroid to the cluster mass: a planted tight cluster stays whole") {
      // 6 near-identical vectors + 2 far outliers; after one round the
      // tight cluster must share one cell regardless of which seeds the
      // md5 sample picked
      val base = Array.tabulate(64)(i => 0.4f + 0.001f * i)
      val tight = (1L to 6L).map(i => (i, base.map(x => x + i * 1e-4f)))
      val far = Seq((100L, Array.fill(64)(-0.9f)), (101L, Array.fill(64)(0.9f)))
      val df = (tight ++ far).toDF("vec_id", "embedding")
      val out = Similarity.kmeansRefine(df, "vec_id", "embedding", numCells = 2, iters = 1)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cell")).toMap
      assert((1L to 6L).map(out).toSet.size == 1)
    }
  }

  describe("semDedup") {
    it("collapses exact copies to the min-id representative and keeps the distinct vector") {
      val v1 = Array.fill(64)(0.5f)
      val v2 = Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f)
      val df = Seq((10L, v1), (11L, v1), (12L, v1), (20L, v2)).toDF("vec_id", "embedding")
      // identical vectors land in the same cell whatever the seeds are
      // (equal L2 to every centroid, ties by cell index), so the copies
      // always meet; v1·v2 = 0 < threshold keeps 20 apart
      val out = Similarity.semDedup(df, "vec_id", "embedding", threshold = 0.95, numCells = 2)
        .select("id", "rep_id", "kept").as[(Long, Long, Boolean)].collect().toSet
      assert(out == Set((10L, 10L, true), (11L, 10L, false), (12L, 10L, false),
        (20L, 20L, true)))
    }
    it("covers the whole corpus, reps are component minima, every rep is kept") {
      val emb = Tables.embeddings(spark, dir)
      val out = Similarity.semDedup(emb, "vec_id", "embedding", threshold = 0.3)
      assert(out.count() == emb.count())
      assert(out.filter($"rep_id" > $"id").isEmpty)
      val reps = out.select($"rep_id".as("id")).distinct()
      assert(reps.join(out.filter(!$"kept").select("id"), "id").isEmpty)
      // kept is exactly id == rep_id
      assert(out.filter($"kept" =!= ($"id" === $"rep_id")).isEmpty)
    }
  }

  describe("cosineNearDupPairs") {
    it("emits canonical id1<id2 pairs above threshold only") {
      val emb = Tables.embeddings(spark, dir)
      val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", "label", 0.3)
      assert(pairs.filter($"id1" >= $"id2").isEmpty)
      assert(pairs.filter($"cosine" < 0.3).isEmpty)
    }
  }

  describe("dot_q native expression") {
    it("equals the lambda dot and norm on real embeddings") {
      val emb = Tables.embeddings(spark, dir).limit(100)
        .select($"vec_id", Similarity.quantize($"embedding").as("vq"))
      val both = emb.select($"vec_id",
        call_function("dot_q", $"vq", $"vq").as("nat"),
        aggregate($"vq", lit(0L), (acc, x) => acc + x * x).as("bi"))
      assert(both.filter($"nat" =!= $"bi").isEmpty)
      val pairs = emb.limit(10).crossJoin(
          emb.select($"vq".as("vq2")).limit(10))
        .select(call_function("dot_q", $"vq", $"vq2").as("nat"),
          Similarity.dotQ($"vq", $"vq2").as("bi"))
      assert(pairs.filter($"nat" =!= $"bi").isEmpty)
    }
  }

  /** ADC lookup-sum, built-in fold form — the value-identical
    * reference form of the native `adc_dist` ([[graft.plans.AdcDist]]). */
  private def adcBuiltin(qtab: Column, codes: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, s) =>
      acc + element_at(element_at(qtab, (s + 1).cast("int")),
        (element_at(codes, (s + 1).cast("int")) + 1).cast("int")))

  describe("adc_dist native expression") {
    it("equals the element_at fold on real qtab/codes shapes") {
      // qtab rows of ksub=4 distances, codes selecting one per row —
      // deterministic values derived from vec_id so rows differ
      val df = Tables.embeddings(spark, dir).limit(200)
        .select($"vec_id",
          transform(sequence(lit(0), lit(7)), s =>
            transform(sequence(lit(0), lit(3)), j =>
              ($"vec_id" + s * 10 + j * 3).cast("long"))).as("qtab"),
          transform(sequence(lit(0), lit(7)), s =>
            (($"vec_id" + s) % 4).cast("long")).as("codes"))
      val both = df.select($"vec_id",
        call_function("adc_dist", $"qtab", $"codes").as("nat"),
        adcBuiltin($"qtab", $"codes", 8).as("bi"))
      assert(both.count() == 200)
      assert(both.filter($"nat" =!= $"bi").isEmpty)
    }
  }

  describe("pq_encode native expression") {
    it("equals the array_min fold per subspace on real embeddings, ties included") {
      val m = 8; val ksub = 4; val subDim = 8
      val emb = Tables.embeddings(spark, dir).limit(200)
        .select($"vec_id", Similarity.quantize($"embedding").as("vq"))
      // codebook from the first ksub vectors' slices (deterministic)
      val seeds = emb.orderBy("vec_id").limit(ksub).select($"vq").as[Seq[Long]].collect().toSeq
      val cb: Seq[Seq[Seq[Long]]] =
        (0 until m).map(s => seeds.map(_.slice(s * subDim, (s + 1) * subDim)))
      val cbLit = typedLit(cb)
      def l2(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)
      val builtin = transform(sequence(lit(0), lit(m - 1)), s => {
        val sub = slice($"vq", s * subDim + 1, lit(subDim))
        array_min(transform(sequence(lit(0), lit(ksub - 1)), j =>
          struct(l2(sub, element_at(element_at(cbLit, (s + 1).cast("int")), (j + 1).cast("int"))).as("d"),
            j.cast("long").as("j")))).getField("j")
      })
      val both = emb.select($"vec_id",
        call_function("pq_encode", $"vq", typedLit(cb.flatten), lit(m)).as("nat"),
        builtin.as("bi"))
      assert(both.count() == 200)
      assert(both.filter($"nat" =!= $"bi").isEmpty)
      // a seed vector encodes to its own index in every subspace —
      // exercises the zero-distance tie path deterministically
      val self = emb.orderBy("vec_id").limit(1)
        .select(call_function("pq_encode", $"vq", typedLit(cb.flatten), lit(m)).as("c"))
        .as[Seq[Long]].head()
      assert(self == Seq.fill(m)(0L))
    }
  }

  describe("nearest_cells native expression") {
    it("equals the lambda sort-and-slice form on real embeddings") {
      val emb = Tables.embeddings(spark, dir).limit(200)
        .select($"vec_id", Similarity.quantize($"embedding").as("vq"))
      val cents = emb.limit(8).select($"vq").as[Seq[Long]].collect().toSeq
      val centLit = typedLit(cents)
      val builtin = {
        val dists = transform(sequence(lit(0), lit(cents.size - 1)), c =>
          struct(
            aggregate(zip_with($"vq", element_at(centLit, c + 1), (x, y) => (x - y) * (x - y)),
              lit(0L), (acc, x) => acc + x).as("d"),
            c.cast("long").as("cell")))
        transform(slice(array_sort(dists), 1, 3), s => s.getField("cell"))
      }
      val both = emb.select($"vec_id",
        call_function("nearest_cells", $"vq", centLit, lit(3)).as("nat"),
        builtin.as("bi"))
      assert(both.filter($"nat" =!= $"bi").isEmpty)
    }
  }

  describe("hyperplane_sig native expression") {
    it("equals lshBucket over quantize on real embeddings") {
      val emb = Tables.embeddings(spark, dir)
      val native = emb.select($"vec_id",
        call_function("hyperplane_sig", $"embedding", lit(32)).as("sig"))
      val builtin = emb.select($"vec_id",
        Similarity.lshBucket(Similarity.quantize($"embedding"), 32).as("sig2"))
      assert(native.join(builtin, "vec_id").filter($"sig" =!= $"sig2").isEmpty)
    }
  }

  describe("cosineNearDupPairsBanded") {
    it("is a subset of all-pairs with identical cosines, and keeps every near-identical pair") {
      val emb = Tables.embeddings(spark, dir)
      val all = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", "label", 0.3)
        .select($"id1", $"id2", $"cosine").as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val banded = Similarity.cosineNearDupPairsBanded(emb, "vec_id", "embedding", "label", 0.3)
        .select($"id1", $"id2", $"cosine").as[(Long, Long, Double)].collect()
      assert(banded.nonEmpty)
      banded.foreach { case (i1, i2, c) =>
        assert(all.get((i1, i2)).contains(c), s"banded pair ($i1,$i2,$c) not in all-pairs")
      }
      // recall contract: pairs at cosine ≥ 0.95 survive banding w.p.
      // ≈ 0.997 each — require every one of them present (none lost)
      val high = all.filter(_._2 >= 0.95).keySet
      val got = banded.map(p => (p._1, p._2)).toSet
      assert(high.subsetOf(got), s"lost high-cosine pairs: ${high.diff(got)}")
    }
  }

  describe("quantizeInt8") {
    it("codes stay in [-127,127] and reconstruction error <= scale/2") {
      val vecs = Similarity.quantizeInt8(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "vec_id", "embedding")
      val joined = vecs.join(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "vec_id")
      import org.apache.spark.sql.functions._
      val bad = joined.filter(
        exists(col("q"), c => abs(c) > 127) ||
        exists(zip_with(col("embedding"), col("q"),
            (x, c) => abs(x.cast("double") - c * col("scale"))),
          e => e > col("scale") / 2 + 1e-12))
      assert(bad.isEmpty, bad.take(2).mkString(","))
    }
    it("hand case incl. the all-zero vector") {
      val df = Seq(
        (1L, Array(1.0f, -0.5f, 0.25f)),
        (2L, Array(0.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding")
      val got = Similarity.quantizeInt8(df, "vec_id", "embedding")
        .orderBy("vec_id").collect()
      assert(got(0).getSeq[Int](3) == Seq(127, -63, 32)) // floor(-63.5+0.5) = -63
      assert(got(1).getSeq[Int](3) == Seq(0, 0, 0))
      assert(got(1).getAs[Double]("scale") == 0.0)
    }
  }

  describe("rankedEval (MRR + nDCG@k)") {
    def ranked(rows: (Long, Long, Int)*) =
      rows.toSeq.toDF("query_id", "corpus_id", "rank")
    val exact = ranked((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))

    it("perfect order scores mrr=1, ndcg=1") {
      val r = Similarity.rankedEval(exact, exact, k = 3).collect().head
      assert(r.getAs[Long]("n_hit") == 3L)
      assert(r.getAs[Int]("first_hit_rank") == 1)
      assert(r.getAs[Double]("mrr") == 1.0)
      assert(r.getAs[Double]("ndcg") == 1.0)
    }
    it("reversed order keeps recall but drops ndcg below 1") {
      val rev = ranked((1L, 12L, 1), (1L, 11L, 2), (1L, 10L, 3))
      val r = Similarity.rankedEval(exact, rev, k = 3).collect().head
      val d = Similarity.ndcgDiscounts(3)
      val expected = math.floor((1 * d(0) + 2 * d(1) + 3 * d(2)) /
        (3 * d(0) + 2 * d(1) + 1 * d(2)) * 1e4 + 0.5) / 1e4
      assert(r.getAs[Long]("n_hit") == 3L)
      assert(r.getAs[Double]("mrr") == 1.0)
      assert(r.getAs[Double]("ndcg") == expected && expected < 1.0)
    }
    it("no relevant hits scores zero with rank sentinel 0") {
      val miss = ranked((1L, 97L, 1), (1L, 98L, 2), (1L, 99L, 3))
      val r = Similarity.rankedEval(exact, miss, k = 3).collect().head
      assert(r.getAs[Long]("n_hit") == 0L)
      assert(r.getAs[Int]("first_hit_rank") == 0)
      assert(r.getAs[Double]("mrr") == 0.0)
      assert(r.getAs[Double]("ndcg") == 0.0)
    }
    it("first hit at rank 2 gives mrr=0.5") {
      val a = ranked((1L, 99L, 1), (1L, 10L, 2), (1L, 98L, 3))
      val r = Similarity.rankedEval(exact, a, k = 3).collect().head
      assert(r.getAs[Int]("first_hit_rank") == 2)
      assert(r.getAs[Double]("mrr") == 0.5)
    }
  }

  describe("pcaTopComponent") {
    it("recovers the dominant axis of an axis-aligned cloud") {
      // variance concentrated on dim 1: the top component must load
      // ~fully on dim 1 (|loading| = 1.0 after max-normalization)
      val rows = (1 to 50).map { i =>
        (i.toLong, Array(0.01f * (i % 3), 1.0f * (if (i % 2 == 0) 1 else -1), 0.02f))
      }
      val df = rows.toDF("vec_id", "embedding")
      val got = Similarity.pcaTopComponent(df, "embedding", dim = 3, iters = 2)
        .orderBy("dim").collect()
      assert(got.length == 3)
      assert(math.abs(got(1).getAs[Double]("loading")) == 1.0)
      assert(math.abs(got(0).getAs[Double]("loading")) < 0.2)
      assert(math.abs(got(2).getAs[Double]("loading")) < 0.2)
    }
    it("is deterministic across runs") {
      val rows = (1 to 30).map(i => (i.toLong,
        Array(0.1f * i, 0.5f - 0.01f * i, 0.3f)))
      val df = rows.toDF("vec_id", "embedding")
      def run() = Similarity.pcaTopComponent(df, "embedding", dim = 3, iters = 2)
        .orderBy("dim").collect().toSeq
      assert(run() == run())
    }
  }
}
