package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs._
import graft.sources.Staging
import graft.sources.Staging.Snapshottable

/** Embedding similarity search.
  *
  * All scoring runs over a fixed-point quantized view of the vectors
  * (scale 10^6 — like int8/int16 ANN quantization but lossless for
  * hash-matching): dot products and norms are exact integer sums, so
  * results are order-independent and bit-identical across engines,
  * and the shuffled state is longs, not floats.
  *
  * Scale design: brute force is O(Q·N) — fine for a bounded query
  * batch against 10⁸ vectors when Q is broadcast; for corpus-vs-corpus
  * use [[lshBucket]] (hyperplane LSH) so candidates co-locate in one
  * shuffle, or a coarse-quantizer (IVF) key on a cluster id.
  */
object Similarity {

  /** Quantized vector (array<long>) at 10^scale, by the native
    * `quantize_vec` ([[graft.plans.QuantizeVec]]) — the entry ramp of
    * every similarity path runs compiled instead of as an interpreted
    * transform. */
  def quantize(vec: Column, scale: Int = 6): Column =
    call_function("quantize_vec", vec, lit(scale))

  /** Exact integer dot product of two quantized vectors — the built-in
    * reference form of `dot_q`. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** [[dotQ]] by the native `dot_q` expression ([[graft.plans.DotQ]]):
    * the multiply-add loop runs in compiled code instead of two
    * interpreted lambdas + a product array per pair. Value-identical on
    * equal-length vectors (tested). */
  private def dotQN(a: Column, b: Column): Column = call_function("dot_q", a, b)

  /** The exact integer squared norm of a quantized vector, by the same
    * native path (`dot_q(v, v)`). */
  private def normSqN(v: Column): Column = call_function("dot_q", v, v)

  /** Cosine from exact integer dot/norms (rounded to 6 dp). */
  def cosineQ(dot: Column, na: Column, nb: Column): Column =
    rd(dot / nullifZero(sqrt(na) * sqrt(nb)), 6)

  private def prep(df: DataFrame, idCol: String, vecCol: String,
                   idAs: String, qAs: String, nAs: String): DataFrame =
    df.select(col(idCol).as(idAs), quantize(col(vecCol)).as(qAs))
      .withColumn(nAs, normSqN(col(qAs)))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (ties broken by corpus id). The query side should
    * be small — Spark broadcasts it, so the corpus scan is a single
    * narrow pass; the only shuffle is the per-query top-k, which the
    * window's partial rank-pushdown (WindowGroupLimit) keeps tiny.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val scored = cosineScores(corpus, queries, idCol, vecCol)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Every (query, corpus) cosine — the scored pass [[bruteForceTopK]]
    * and [[hardNegatives]] rank over: query side broadcast, corpus
    * scanned once, exact integer dot/norms. */
  private def cosineScores(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String): DataFrame = {
    val c = prep(corpus, idCol, vecCol, "corpus_id", "cq", "cn")
    val q = prep(queries, idCol, vecCol, "query_id", "qq", "qn")
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineQ(dotQN(col("cq"), col("qq")), col("cn"), col("qn")).as("cosine"))
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * query, the k MOST similar corpus items whose cosine is still
    * BELOW `dupThreshold` — close enough to be informative negatives,
    * but with the near-duplicates (which would be FALSE negatives:
    * semantically the same item labeled "not a match") cut off first.
    * The dup cut happens BEFORE the top-k rank, so excluded near-dups
    * free their ranks for the next-closest true negatives — composing
    * `bruteForceTopK(...).filter(cosine < t)` instead would just
    * shorten lists. Same shapes as [[bruteForceTopK]]: broadcast query
    * side, one corpus scan, rank-pushdown top-k; at corpus scale the
    * same mining runs over [[annTopK]]-style banded candidates (any
    * candidate generator that over-fetches ≥ k + expected-dup-count
    * works, since the cut is a post-filter on exact cosines). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, dupThreshold: Double): DataFrame = {
    val scored = cosineScores(corpus, queries, idCol, vecCol)
      .filter(col("cosine") < dupThreshold)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Near-duplicate pairs by cosine ≥ threshold within a blocking
    * column (e.g. a cluster/label id — the IVF pattern: compare only
    * within the same coarse cell). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         blockCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(blockCol).as("block"), col(idCol).as("id1"),
      quantize(col(vecCol)).as("q1")).withColumn("n1", normSqN(col("q1")))
    val b = df.select(col(blockCol).as("block"), col(idCol).as("id2"),
      quantize(col(vecCol)).as("q2")).withColumn("n2", normSqN(col("q2")))
    a.join(b, "block")
      .filter(col("id1") < col("id2"))
      .select(col("block"), col("id1"), col("id2"),
        cosineQ(dotQN(col("q1"), col("q2")), col("n1"), col("n2")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Near-duplicate pairs with BANDED hyperplane LSH under the block
    * key — the shape that survives an unbounded block at corpus scale.
    * [[cosineNearDupPairs]] compares all pairs within a block, which
    * is O(|block|²) and skew-maximal when a block (e.g. a language)
    * spans most of the corpus. Here the within-block candidate step is
    * an equi join on (block, band, band_key): the signature is
    * `bands × planesPerBand` hyperplane sign bits ([[lshBucket]]), and
    * a pair is a candidate iff all sign bits agree in at least one
    * band. Only (block, id, band, key) scalars shuffle; vectors rejoin
    * on the surviving candidate set for the exact cosine ≥ threshold
    * verification.
    *
    * Recall contract (NOT exact at the threshold): a pair at angle θ
    * survives with p = 1 − (1 − (1 − θ/π)^planesPerBand)^bands. With
    * the defaults (8 bands × 4 planes), cosine 0.95 → p ≈ 0.997,
    * cosine 0.7 → p ≈ 0.89, cosine 0.3 → p ≈ 0.66: true near-dups are
    * found with near-certainty and recall decays toward the threshold.
    * The result is always a subset of [[cosineNearDupPairs]] (tested).
    */
  def cosineNearDupPairsBanded(df: DataFrame, idCol: String, vecCol: String,
                               blockCol: String, threshold: Double,
                               bands: Int = 8, planesPerBand: Int = 4,
                               dim: Int = 64): DataFrame = {
    val mask = (1L << planesPerBand) - 1
    // repartition by id first: the quantize + plane-dot lambdas are
    // interpreted (no codegen), so their CPU must spread over all cores
    // even when the input's split layout gives few tasks. Explicit
    // partition count so AQE's byte-based coalescing (miscalibrated
    // for CPU-bound small-byte stages) leaves it alone.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val base0 = df.select(col(blockCol).as("block"), col(idCol).as("id"),
        col(vecCol).as("__v"))
      .repartition(parts, col("id"))
      .select(col("block"), col("id"), col("__v"), quantize(col("__v")).as("vq"))
      .withColumn("n", normSqN(col("vq")))
    val base = base0
      .withColumn("sig", sigExpr(col("__v"), col("vq"), bands * planesPerBand, dim))
      .drop("__v")
    val banded = base.select(col("block"), col("id"), posexplode(
        expr(s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b * $planesPerBand) & $mask)"))
      .as(Seq("band", "band_key")))
    val cand = banded.select(col("block"), col("id").as("id1"), col("band"), col("band_key"))
      .join(banded.select(col("block"), col("id").as("id2"), col("band"), col("band_key")),
        Seq("block", "band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("block", "id1", "id2").distinct()
    cand
      .join(base.select(col("id").as("id1"), col("vq").as("q1"), col("n").as("n1")), "id1")
      .join(base.select(col("id").as("id2"), col("vq").as("q2"), col("n").as("n2")), "id2")
      .select(col("block"), col("id1"), col("id2"),
        cosineQ(dotQN(col("q1"), col("q2")), col("n1"), col("n2")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The hyperplane signature: for dim-64 vectors the native
    * `hyperplane_sig` Catalyst expression ([[graft.plans.HyperplaneSig]])
    * runs the numPlanes×dim multiply-adds in compiled code inside the
    * scan stage; other dimensions use [[lshBucket]]'s interpreted
    * lambda form. Both are value-identical on dim-64 vectors (tested). */
  private def sigExpr(rawVec: Column, vecQ: Column,
                      numPlanes: Int, dim: Int): Column =
    if (dim == 64) call_function("hyperplane_sig", rawVec, lit(numPlanes))
    else lshBucket(vecQ, numPlanes, dim)

  /** Deterministic hyperplane components: md5("p,j") first 15 hex
    * digits as a long, mapped to [-10^6, 10^6]. Computed ONCE at plan
    * time and embedded as literals (not re-hashed per row), and
    * reproducible from any engine's md5 — the oracle embeds the same
    * numbers. */
  def planeComponents(numPlanes: Int, dim: Int = 64): IndexedSeq[Long] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes * dim).map { idx =>
      val s = s"${idx / dim},${idx % dim}"
      val hex = mdig.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2000001L - 1000000L
    }
  }

  /** Hyperplane-LSH bucket id (numPlanes sign bits); the dot against
    * each plane is an exact integer sum over the quantized vector, so
    * bucket assignment is bit-deterministic across engines. */
  def lshBucket(vecQ: Column, numPlanes: Int = 12, dim: Int = 64): Column = {
    val planes = planeComponents(numPlanes, dim)
    (0 until numPlanes).map { p =>
      val w = typedLit(planes.slice(p * dim, (p + 1) * dim))
      val dot = aggregate(zip_with(vecQ, w, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Deterministic random projection (the Johnson–Lindenstrauss
    * dimensionality-reduction step): project the quantized vector onto
    * `outDim` md5-derived integer hyperplanes ([[planeComponents]] —
    * the same plan-time literals the LSH family embeds). Each output
    * component is an exact integer dot, so the reduced representation
    * is bit-identical in any engine and safe to hash/join on — the
    * cheap 4×-smaller surrogate a 100 TB pipeline stores next to (or
    * instead of) raw embeddings for coarse filtering.
    *
    * Shape: one narrow map after the CPU-spreading repartition — no
    * shuffle, no state; with the native `dot_q` registered each
    * component is one compiled multiply-add loop.
    * Magnitude contract: |component| ≤ dim · 10⁶ (plane) · max|v|·10⁶
    * — for unit-normalized embeddings ~6×10¹³, five orders under 2⁶³.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDim: Int = 16, dim: Int = 64): DataFrame = {
    val planes = planeComponents(outDim, dim)
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    df.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .repartition(parts, col("id"))
      .select(col("id"), quantize(col("__v")).as("vq"))
      .select(col("id"), array((0 until outDim).map { p =>
        dotQN(col("vq"), typedLit(planes.slice(p * dim, (p + 1) * dim)))
      }: _*).as("proj"))
  }

  /** The md5-seeded sampled coarse quantizer shared by [[ivfTopK]],
    * [[ivfAssign]] and [[semDedup]]: the `numCells` corpus vectors
    * with the smallest (hash60(id), id), quantized — a k-row driver
    * collect ("train small, broadcast"), bounded by numCells. */
  private def trainCellSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                             numCells: Int): Seq[Seq[Long]] =
    corpus
      .select(col(idCol).as("sid"), quantize(col(vecCol)).as("sq"))
      .withColumn("hk", hash60(col("sid").cast("string")))
      .orderBy(col("hk"), col("sid")).limit(numCells)
      .select("sid", "sq")
      .collect()
      .sortBy(_.getAs[Long]("sid"))
      .map(_.getAs[scala.collection.Seq[Long]]("sq").toSeq)
      .toSeq

  /** The `n` nearest cells of a quantized vector by exact integer L2
    * against the plan-time centroid literal (one narrow pass, no
    * shuffle); ties break by cell index. Native `nearest_cells`
    * ([[graft.plans.NearestCells]]). */
  private def nearestCellsOf(vq: Column, centroidLit: Column, n: Int): Column =
    call_function("nearest_cells", vq, centroidLit, lit(n))

  /** IVF (inverted-file) ANN: a coarse quantizer assigns each vector
    * to a cell; queries probe their `nprobe` nearest cells and rank
    * exactly within them. The other canonical scale path next to LSH:
    * cells give a tunable recall/cost knob and the candidate join is
    * an equi join on cell id.
    *
    * The quantizer is an md5-seeded SAMPLE: cells are the `numCells`
    * corpus vectors with the smallest (hash60(id), id) — no RNG, no
    * iteration order, so the cells (and therefore the whole result)
    * are bit-reproducible in any engine, and the DuckDB oracle checks
    * this operator end-to-end. (Sampled centroids are a standard IVF
    * training shortcut — slightly worse cell balance than k-means for
    * the same numCells, identical plan shape.) Collecting the seeds is
    * a k-row driver action — the same "train small, broadcast"
    * structure as a fitted quantizer, bounded by numCells, not data.
    * Cell assignment is exact integer L2 over the quantized vectors,
    * ties broken by cell index.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, numCells: Int = 16, nprobe: Int = 2,
              refineIters: Int = 0): DataFrame = {
    // refineIters > 0: Lloyd-refine the sampled seeds before indexing
    // (better cell balance for the same numCells — the trained-
    // quantizer IVF); 0 keeps the seeded quantizer.
    val seed = trainCellSeeds(corpus, idCol, vecCol, numCells)
    val centroids =
      if (refineIters == 0) seed
      else {
        val parts = corpus.sparkSession.sessionState.conf.numShufflePartitions
        val vq = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
          .repartition(parts, col("id"))
          .select(quantize(col("__v")).as("vq"))
          .snapshot()
        val r = refineCentroidsLoop(vq, seed, numCells, refineIters)
        Staging.release(vq)
        r
      }
    val centroidLit = typedLit(centroids)

    def cellsOf(vq: Column, n: Int): Column =
      nearestCellsOf(vq, centroidLit, n)

    val c = corpus.select(col(idCol).as("corpus_id"), quantize(col(vecCol)).as("cq"))
      .select(col("corpus_id"), col("cq"), explode(cellsOf(col("cq"), 1)).as("cell"))
      .withColumn("cn", normSqN(col("cq")))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qq"))
      .select(col("query_id"), col("qq"), explode(cellsOf(col("qq"), nprobe)).as("cell"))
      .withColumn("qn", normSqN(col("qq")))
    val scored = c.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineQ(dotQN(col("cq"), col("qq")), col("cn"), col("qn")).as("cosine"))
      .distinct() // a pair can meet in several probed cells
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Coarse-quantizer cell assignment as a standalone operator:
    * (id, cell, vq, n) for every vector, cell = the nearest of the
    * [[trainCellSeeds]] centroids (exact integer L2, ties by cell
    * index). The building block [[ivfTopK]] and [[semDedup]] share;
    * exposed because a pipeline that clusters once and reuses the
    * assignment (dedup + ANN + per-cell stats) shouldn't re-train.
    * One narrow pass after the k-row seed collect — no shuffle beyond
    * the CPU-spreading repartition. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                numCells: Int = 16): DataFrame = {
    val centroidLit = typedLit(trainCellSeeds(df, idCol, vecCol, numCells))
    // explicit-count repartition: the native nearest-cell scan is
    // CPU-bound — spread over all cores regardless of input split layout.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    df.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .repartition(parts, col("id"))
      .select(col("id"), quantize(col("__v")).as("vq"))
      .select(col("id"), col("vq"),
        element_at(nearestCellsOf(col("vq"), centroidLit, 1), 1).as("cell"))
      .withColumn("n", normSqN(col("vq")))
  }

  /** Product quantization with asymmetric-distance scoring (PQ/ADC —
    * Jégou, Douze & Schmid, TPAMI'11): the memory-side half of the
    * canonical IVF-PQ index behind every billion-vector ANN system.
    * Vectors are split into `m` subspaces; each subspace slice is
    * replaced by the index of its nearest codebook centroid, so a
    * 64-dim vector stores as `m` small codes instead of 64 floats —
    * at 100 TB that factor (here 64·4B → 8 codes) is what lets the
    * index live in executor memory. Queries score candidates WITHOUT
    * reconstructing vectors: each query precomputes its m×ksub
    * distance table once (one narrow map over the tiny query side),
    * and a corpus vector's approximate distance is m table lookups.
    *
    * Determinism contract (same as [[ivfTopK]]): the codebook is the
    * md5-seeded sample — centroid j of subspace s is the s-slice of
    * the j-th [[trainCellSeeds]] vector — and all distances are exact
    * integer L2 over quantized vectors, so codes, tables and rankings
    * are bit-reproducible and the DuckDB oracle checks the operator
    * end-to-end. Argmin ties break by code index.
    *
    * Scale shape: encoding is one narrow pass over the corpus (codes
    * never shuffle more than (id, m longs)); the codebook is a
    * plan-time literal (m·ksub·subDim longs — broadcast-free); the
    * query side broadcasts with its precomputed table; top-k runs as
    * the usual WindowGroupLimit rank pushdown. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, m: Int = 8, ksub: Int = 16, dim: Int = 64,
             refineIters: Int = 0): DataFrame = {
    require(dim % m == 0, s"pqTopK: dim $dim not divisible by m $m")
    val subDim = dim / m
    val seeds = trainCellSeeds(corpus, idCol, vecCol, ksub)
    // codebook(s)(j) = subspace-s slice of seed j; refineIters > 0
    // Lloyd-refines each subspace codebook independently (the real
    // PQ training step — same ⌊Σ/n⌋ exact-integer mean contract as
    // [[kmeansRefine]], empty codes keep their seed)
    var codebook: Seq[Seq[Seq[Long]]] =
      (0 until m).map(s => seeds.map(_.slice(s * subDim, (s + 1) * subDim)))
    if (refineIters > 0) {
      val sparts = corpus.sparkSession.sessionState.conf.numShufflePartitions
      val vq = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
        .repartition(sparts, col("id"))
        .select(quantize(col("__v")).as("vq"))
        .snapshot()
      for (_ <- 0 until refineIters)
        codebook = refinePqCodebook(vq, codebook, m, ksub, subDim)
      Staging.release(vq)
    }
    val cbLit = typedLit(codebook)

    def subVec(vq: Column, s: Column): Column = slice(vq, s * subDim + 1, lit(subDim))
    def l2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)
    def centroid(s: Column, j: Column): Column =
      element_at(element_at(cbLit, (s + 1).cast("int")), (j + 1).cast("int"))

    // corpus encode: one compiled pass via native `pq_encode` (flat
    // codebook literal; ties go to the lowest code index)
    val codes = call_function("pq_encode", col("cq"), typedLit(codebook.flatten), lit(m))
    val qtab = transform(sequence(lit(0), lit(m - 1)), s =>
      transform(sequence(lit(0), lit(ksub - 1)), j =>
        l2(subVec(col("qq"), s), centroid(s, j))))

    val parts = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
      .repartition(parts, col("corpus_id")) // spread the CPU-bound encode
      .select(col("corpus_id"), quantize(col("__v")).as("cq"))
      .select(col("corpus_id"), codes.as("codes"))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qq"))
      .select(col("query_id"), qtab.as("qtab"))
    // the hottest loop of PQ search: |Q|·|C| pairs × m table lookups,
    // run by native `adc_dist` as a compiled flat walk
    val adc = call_function("adc_dist", col("qtab"), col("codes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("corpus_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"), adc.as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** One Lloyd round per PQ subspace: assign each sub-vector to its
    * nearest code (exact integer L2, ties by code index), recompute
    * ⌊Σ/n⌋ integer-mean sub-centroids; empty codes keep their
    * previous centroid. The collect is m·ksub·subDim longs — model
    * sized, not data sized. */
  private def refinePqCodebook(vq: DataFrame, cb: Seq[Seq[Seq[Long]]],
                               m: Int, ksub: Int, subDim: Int): Seq[Seq[Seq[Long]]] = {
    // per-subspace assignment: native pq_encode computes all m codes
    // in one compiled pass (ties go to the lowest code index)
    val codesCol = call_function("pq_encode", col("vq"), typedLit(cb.flatten), lit(m))
    val entry = explode(transform(sequence(lit(0), lit(m - 1)), s =>
      struct(s.cast("long").as("s"),
        element_at(col("__codes"), (s + 1).cast("int")).as("code"),
        slice(col("vq"), s * subDim + 1, lit(subDim)).as("sub"))))
    val sums = vq.withColumn("__codes", codesCol).select(entry.as("e"))
      .select(col("e.s").as("s"), col("e.code").as("code"),
        posexplode(col("e.sub")).as(Seq("k", "x")))
      .groupBy("s", "code", "k")
      .agg(sum(col("x")).as("sm"), count(lit(1)).as("c"))
      .collect()
    val means: Map[(Long, Long), Map[Int, Long]] = sums
      .groupBy(r => (r.getAs[Long]("s"), r.getAs[Long]("code")))
      .map { case (key, rows) =>
        key -> rows.map(r => r.getAs[Int]("k") ->
          Math.floorDiv(r.getAs[Long]("sm"), r.getAs[Long]("c"))).toMap
      }
    (0 until m).map(s => (0 until ksub).map { j =>
      means.get((s.toLong, j.toLong)) match {
        case Some(mm) => (0 until subDim).map(k => mm(k)): Seq[Long]
        case None     => cb(s)(j)
      }
    }: Seq[Seq[Long]])
  }

  /** The Lloyd update loop shared by [[kmeansRefine]] and the
    * refine-enabled [[ivfTopK]]: assign to nearest cell, recompute
    * ⌊Σ/n⌋ integer-mean centroids (a numCells × dim model collect),
    * empty cells keep their previous centroid. `vq` must expose a
    * quantized `vq` column (extra columns ignored); every round reads
    * it, so callers pass a snapshot and release it after the loop. */
  private def refineCentroidsLoop(vq: DataFrame, seed: Seq[Seq[Long]],
                                  numCells: Int, iters: Int): Seq[Seq[Long]] = {
    var centroids = seed
    for (_ <- 0 until iters) {
      val asg = vq.select(col("vq"),
        element_at(nearestCellsOf(col("vq"), typedLit(centroids), 1), 1)
          .as("cell"))
      val sums = asg
        .select(col("cell"), posexplode(col("vq")).as(Seq("k", "x")))
        .groupBy("cell", "k")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
        .collect()
      val means: Map[Long, Map[Int, Long]] = sums
        .groupBy(_.getAs[Long]("cell"))
        .map { case (cell, rows) =>
          cell -> rows.map(r => r.getAs[Int]("k") ->
            Math.floorDiv(r.getAs[Long]("s"), r.getAs[Long]("c"))).toMap
        }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        means.get(c.toLong) match {
          case Some(m) => old.indices.map(k => m(k))
          case None    => old // empty cell: keep the previous centroid
        }
      }
    }
    centroids
  }

  /** Per-group centroid (prototype) vectors: the element-wise
    * ⌊Σ/n⌋ integer mean of the quantized vectors per group key — the
    * class-prototype computation behind nearest-class-mean
    * classifiers, per-label drift monitoring, and cluster summaries.
    * The same exact-integer mean contract as [[kmeansRefine]]'s
    * update step (floor of one IEEE division; quotients are ≥ 1/n
    * from any integer unless exactly integral), so prototypes are
    * bit-portable and oracle-checkable.
    *
    * Shape: ONE partial-aggregable shuffle of (group, dim) integer
    * sums — the exploded rows combine map-side — and the centroid
    * list reassembles per group from dim-indexed sums. Output:
    * (group, n_vecs, centroid array<long>).
    */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    // round-robin spread (NOT by grp — the group key is typically
    // low-cardinality and would serialize the quantize/explode work)
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    df.select(col(groupCol).as("grp"), col(vecCol).as("__v"))
      .repartition(parts)
      .select(col("grp"), posexplode(quantize(col("__v"))).as(Seq("k", "x")))
      .groupBy("grp", "k")
      .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
      .select(col("grp"), col("k"),
        floor(col("s") / col("c").cast("double")).cast("long").as("m"),
        col("c"))
      .groupBy("grp")
      .agg(min(col("c")).as("n_vecs"),
        array_sort(collect_list(struct(col("k"), col("m")))).as("__km"))
      .select(col("grp"), col("n_vecs"),
        transform(col("__km"), p => p.getField("m")).as("centroid"))
  }

  /** Lloyd (k-means) refinement of the md5-seeded coarse quantizer:
    * `iters` rounds of assign-to-nearest-cell → recompute centroids as
    * the per-cell element-wise mean, then the final assignment under
    * the refined centroids. The standard IVF training step on top of
    * [[trainCellSeeds]]' sampled initialization — better cell balance
    * for the same numCells, which directly bounds the Σ|cell|² cost of
    * [[semDedup]] and the probe cost of [[ivfTopK]].
    *
    * Determinism (what makes this oracle-checkable, unlike textbook
    * k-means): seeds are the md5-ranked sample (no RNG); means are
    * ⌊Σ/n⌋ over the EXACT integer quantized vectors — the quotient is
    * either an integer or ≥ 1/n away from one, far beyond double
    * rounding error, so floor(double-division) in any engine equals
    * Java floorDiv; empty cells keep their previous centroid.
    *
    * Scale shape ("train small, broadcast"): each round is one narrow
    * assignment pass (centroids are plan-time literals) plus ONE
    * partial-aggregable grouped sum whose result — numCells × dim
    * rows, the model, not the data — is collected to the driver. The
    * input is staged once across rounds and the rounds parameter is a
    * constant, so total cost is iters × (scan + tiny shuffle).
    */
  def kmeansRefine(df: DataFrame, idCol: String, vecCol: String,
                   numCells: Int = 16, iters: Int = 1): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val vq = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .repartition(parts, col("id"))
      .select(col("id"), quantize(col("__v")).as("vq"))
      .snapshot()
    val centroids = refineCentroidsLoop(vq,
      trainCellSeeds(df, idCol, vecCol, numCells), numCells, iters)
    val out = vq.select(col("id"),
      element_at(nearestCellsOf(col("vq"), typedLit(centroids), 1), 1)
        .as("cell"))
      .snapshot()
    Staging.release(vq)
    out
  }

  /** SemDedup (Abbas et al. 2023, arXiv:2303.09540 — public method):
    * semantic deduplication by clustering embeddings and dropping all
    * but one representative from every within-cluster group of
    * near-identical vectors. Cluster = [[ivfAssign]] coarse cell;
    * within-cell pairs at cosine ≥ `threshold` are collapsed to
    * connected components ([[Dedup.dedupGroups]]) and each component
    * keeps its MINIMUM id — deterministic, so the whole operator
    * carries a DuckDB oracle. Returns (id, cell, rep_id, kept).
    *
    * Scale shape: the pair step is an equi join on cell — the paper's
    * own within-cluster semantics — so cost is Σ|cell|², bounded by
    * the quantizer's cell balance, NOT corpus². If a cell can grow
    * unbounded (skewed corpora, tiny numCells), compose
    * [[cosineNearDupPairsBanded]] with `blockCol = cell` instead: same
    * equi-join shape with LSH bands bounding the per-key fan-out. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, numCells: Int = 16): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol, numCells)
    val a = assigned.select(col("cell"), col("id").as("id1"),
      col("vq").as("q1"), col("n").as("n1"))
    val b = assigned.select(col("cell"), col("id").as("id2"),
      col("vq").as("q2"), col("n").as("n2"))
    val pairs = a.join(b, "cell")
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        cosineQ(dotQN(col("q1"), col("q2")), col("n1"), col("n2")).as("cosine"))
      .filter(col("cosine") >= threshold)
    val groups = Dedup.dedupGroups(pairs.select("id1", "id2"))
    assigned.select("id", "cell")
      .join(groups.select(col("doc_id").as("id"), col("rep_id")), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("rep_id"), col("id")).as("rep_id"),
        (coalesce(col("rep_id"), col("id")) === col("id")).as("kept"))
  }

  /** ANN top-k via hyperplane LSH: queries probe only their own bucket
    * (single-probe; recall tunes with numPlanes / multi-probe). The
    * candidate join is an equi join on bucket — shuffle-light and
    * skew-bounded, the 100 TB path. */
  def annTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, numPlanes: Int = 12,
              dim: Int = 64, multiProbe: Boolean = false): DataFrame = {
    // dim MUST match the embedding length: zip_with against a shorter
    // plane literal null-pads, every dot goes null, and all vectors
    // collapse into bucket 0 — silently degrading to a cross join.
    def side(df: DataFrame, idAs: String, qAs: String, nAs: String) =
      df.select(col(idCol).as(idAs), col(vecCol).as("__v"),
          quantize(col(vecCol)).as("__vq"))
        .withColumn("bucket", sigExpr(col("__v"), col("__vq"), numPlanes, dim))
        .withColumn(nAs, normSqN(col("__vq")))
        .withColumnRenamed("__vq", qAs)
        .drop("__v")
    val c = side(corpus, "corpus_id", "cq", "cn")
    val q0 = side(queries, "query_id", "qq", "qn")
    // multi-probe: queries also visit every Hamming-1 neighbor bucket
    // (a vector near a hyperplane falls on its other side there) —
    // recall rises steeply for numPlanes× the candidate cost, still on
    // the query (small, broadcast) side only.
    val q = if (!multiProbe) q0 else q0
      .withColumn("bucket", explode(array(
        (col("bucket") +: (0 until numPlanes).map(p =>
          col("bucket").bitwiseXOR(lit(1L << p)))): _*)))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineQ(dotQN(col("cq"), col("qq")), col("cn"), col("qn")).as("cosine"))
      .distinct()
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Symmetric int8 quantization of an embedding column — the 4×
    * storage/bandwidth compression every vector store applies before
    * ANN serving: per-vector scale = max|x|/127, q_i = ⌊x_i/scale+½⌋,
    * so every code lands in [−127, 127] (+127.5 rounds would need
    * max|x| itself; the floor form caps at 127 for the max element)
    * and reconstruction error is bounded by scale/2 per element.
    *
    * Pure narrow map (one lambda chain per row, no shuffle at all);
    * all arithmetic is float→double casts and one IEEE division —
    * both engines execute the identical op sequence, so even the
    * double `scale` column hash-matches. All-zero vectors quantize to
    * all-zero codes with scale 0 (guarded, not NaN). */
  /** Recall@k of an approximate top-k result against the exact one —
    * the "measure, don't guess" gauge every ANN deployment needs
    * before trading brute-force cost for bucketed candidates. Inputs
    * are any two frames in the [[bruteForceTopK]] result shape
    * (query_id, corpus_id, ...); output is per-query
    * (n_exact, n_hit, recall) with recall = |approx ∩ exact|/|exact|
    * (|exact| ≤ k at corpus boundaries, so the denominator is the
    * achievable set, not the nominal k).
    *
    * Scale shape: one left-semi equi join on (query_id, corpus_id) —
    * both sides are already rank-capped to k rows per query, so the
    * join and both aggregates run over queries×k rows, never the
    * corpus. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("corpus_id"))
    val hits = approx.select(col("query_id"), col("corpus_id"))
      .join(e, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    e.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        r4(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact")).as("recall"))
  }

  /** Matryoshka-style truncation sweep (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022): retrieval quality of
    * PREFIX-dimension embeddings versus the full-dimension exact
    * top-k, the measurement that decides how far an MRL-trained
    * embedding column can be truncated (4-8x cheaper ANN serving)
    * before recall drops. For each d in `dims`, corpus and queries
    * are sliced to their first d components, brute-force cosine
    * top-k runs in the truncated space, and [[recallAtK]] against
    * the full-dim exact list is micro-averaged into one row per d:
    * (trunc_dim, n_queries, n_hit, n_exact, recall).
    *
    * Scale shape: each dim's pass is the [[bruteForceTopK]] plan —
    * broadcast query side, one narrow corpus scan, rank-pushdown
    * top-k — and dims are independent branches unioned at the
    * 1-row-per-dim grain, so the sweep costs |dims| corpus scans of
    * DECREASING width (slice happens before the dot product), never
    * a corpus-sized shuffle. On 100 TB the same sweep runs over a
    * query SAMPLE (the queries frame), not the full corpus as
    * queries. */
  def mrlTruncationSweep(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "mrlTruncationSweep: dims must be non-empty")
    val exact = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    dims.map { d =>
      val cTr = corpus.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val qTr = queries.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      recallAtK(exact, bruteForceTopK(cTr, qTr, idCol, vecCol, k))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_hit")).as("n_hit"),
          sum(col("n_exact")).as("n_exact"))
        .select(lit(d).as("trunc_dim"), col("n_queries"),
          col("n_hit"), col("n_exact"),
          r4(col("n_hit").cast("double") / col("n_exact")).as("recall"))
    }.reduce(_ unionByName _)
      .orderBy("trunc_dim")
  }

  /** The nDCG log2 discount table 1/log2(i+1) for ranks 1..k,
    * computed ONCE here and embedded as the same double literals in
    * both engines (the DuckDB oracle interpolates these exact values),
    * so the only cross-engine float risk is summation order — absorbed
    * by the 4-dp rounding on the final ratios. */
  def ndcgDiscounts(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Ranked-retrieval evaluation — MRR and nDCG@k of an approximate
    * retriever against the exact ranking, the graded companion of the
    * set-overlap [[recallAtK]]: recall says WHETHER the true neighbors
    * were found, nDCG says whether they surfaced in the right ORDER
    * (a retriever that returns the true top-k reversed scores 1.0
    * recall but well under 1.0 nDCG). Relevance is graded by exact
    * rank (rel = k+1-rank for the exact top-k, 0 otherwise); DCG
    * discounts by 1/log2(rank+1) ([[ndcgDiscounts]]); IDCG is the
    * exact list's own DCG, so ndcg = 1.0 iff the retriever reproduces
    * the exact order. MRR = 1/rank of the first relevant hit (0 if
    * none). Inputs are any two frames in the [[bruteForceTopK]]
    * result shape — (query_id, corpus_id, rank).
    *
    * Scale shape: both sides arrive rank-capped to k rows per query,
    * so the relevance join and all three aggregates run over
    * queries×k rows — never the corpus. One equi join + two partial
    * aggs; the discount lookup is an array-literal element_at
    * (plan-time constant, no shuffle). */
  def rankedEval(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val discLit = array(ndcgDiscounts(k).map(lit): _*)
    val e = exact.select(col("query_id"), col("corpus_id"),
      (lit(k + 1) - col("rank")).as("rel"), col("rank").as("erank"))
    val ideal = e.groupBy("query_id").agg(
      sum(col("rel").cast("double") * element_at(discLit, col("erank")))
        .as("idcg"))
    val scored = approx
      .select(col("query_id"), col("corpus_id"), col("rank").as("arank"))
      .join(e.select(col("query_id"), col("corpus_id"), col("rel")),
        Seq("query_id", "corpus_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
    val per = scored.groupBy("query_id").agg(
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hit"),
      min(when(col("rel") > 0, col("arank"))).as("fh"),
      sum(col("rel").cast("double") * element_at(discLit, col("arank")))
        .as("dcg"))
    ideal.join(per, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("fh"), lit(0)).cast("int").as("first_hit_rank"),
        r4(when(col("fh").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("fh"))).as("mrr"),
        r4(coalesce(col("dcg"), lit(0.0)) / col("idcg")).as("ndcg"))
  }

  /** Embedding centroid drift between two corpus halves (id parity —
    * the "two ingest snapshots" convention of the drift monitors):
    * the cosine between the PER-DIMENSION SUM vectors of each half,
    * which equals the centroid cosine (the 1/n scalars cancel) while
    * staying exact-integer until the final sqrt/divide. A cosine near
    * 1 says the embedding distribution's direction is stable; a drop
    * is the cheap first alarm before re-probing ANN recall.
    *
    * Scale shape: one posexplode + partial-aggregable shuffle to the
    * DIMENSION grain (64 rows), then a 1-row DECIMAL(38,0) rollup —
    * the corpus never shuffles whole vectors. */
  def embeddingDrift(emb: DataFrame, idCol: String,
                     vecCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val perDim = emb
      .select((col(idCol) % 2 === 0).as("in_a"), quantize(col(vecCol)).as("vq"))
      .select(col("in_a"), posexplode(col("vq")).as(Seq("k", "v")))
      .groupBy("k")
      .agg(sum(when(col("in_a"), col("v")).otherwise(0L)).as("sa"),
        sum(when(!col("in_a"), col("v")).otherwise(0L)).as("sb"))
    val counts = emb.agg(
      sum(when(col(idCol) % 2 === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col(idCol) % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
    perDim.agg(
      sum(col("sa").cast(dec) * col("sb").cast(dec)).as("dot"),
      sum(col("sa").cast(dec) * col("sa").cast(dec)).as("naa"),
      sum(col("sb").cast(dec) * col("sb").cast(dec)).as("nbb"))
      .crossJoin(broadcast(counts))
      .select(col("n_a"), col("n_b"),
        rd(col("dot").cast("double") /
          nullifZero(sqrt(col("naa").cast("double")) *
            sqrt(col("nbb").cast("double"))), 6).as("centroid_cosine"))
  }

  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val absMax = array_max(transform(col(vecCol),
      x => abs(x.cast("double"))))
    df.select(col(idCol), col(vecCol).as("__v"), absMax.as("__amax"))
      .select(col(idCol),
        size(col("__v")).as("n_dims"),
        (col("__amax") / 127.0).as("scale"),
        when(col("__amax") === 0.0,
          transform(col("__v"), _ => lit(0)))
          .otherwise(transform(col("__v"),
            x => floor(x.cast("double") / (col("__amax") / 127.0) + 0.5).cast("int")))
          .as("q"))
  }

  /** Top principal component of the embedding cloud by FIXED-ROUND
    * power iteration on the (uncentered) Gram matrix A = Σ xxᵀ —
    * v ← A·v, renormalized each round — without ever materializing
    * A (the classic matrix-free trick: A·v = Σ x·(xᵀv), two passes
    * of dot products over the data). The leading direction is the
    * axis PCA whitening, ANN projection trees, and embedding-drift
    * monitors all start from.
    *
    * Exactness discipline (the [[int8Quantize]] family's): vectors
    * quantize to scaled-10⁴ longs at the scan, so every xᵀv dot and
    * every per-row contribution x_j·(xᵀv) is an EXACT integer; the
    * per-dimension accumulations run in DECIMAL(38,0) (order-free,
    * overflow-safe past 10¹⁸); each round's renormalization
    * v_j ← ⌊w_j/max|w|·10⁴ + ½⌋ divides two exact scalars in IEEE
    * doubles — bit-identical on any engine. Sign and result are
    * fully determined by v₀ = (10⁴,…,10⁴).
    *
    * Scale shape: each round is ONE narrow scan (dot + contributions
    * fused into the same projection) and one partial-aggregable
    * d-row reduction; the only driver-side value is the d-element
    * direction itself — the model, broadcast back as literals.
    * `iters` is fixed; convergence is geometric in λ₁/λ₂. */
  def pcaTopComponent(embeddings: DataFrame, vecCol: String,
                      dim: Int = 64, iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    val xq = transform(col(vecCol),
      x => floor(x.cast("double") * 10000.0 + 0.5).cast("long"))
    val base = embeddings.select(xq.as("xq")).filter(size(col("xq")) === dim)
    var v: Array[Long] = Array.fill(dim)(10000L)
    for (_ <- 1 to iters) {
      val vLit = array(v.map(lit(_)): _*)
      val dot = aggregate(zip_with(col("xq"), vLit, (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
      val sums = base.select(col("xq"), dot.as("dot"))
        .select(posexplode(col("xq")).as(Seq("pos", "x")), col("dot"))
        .groupBy("pos")
        .agg(sum(col("x").cast("decimal(38,0)") * col("dot")).as("w"))
        .orderBy("pos")
        .collect()
      val w = sums.map(r => r.getDecimal(1).doubleValue())
      val m = w.map(math.abs).max
      v = w.map(x => math.floor(x / m * 10000.0 + 0.5).toLong)
    }
    import spark.implicits._
    v.zipWithIndex.map { case (l, j) => (j, l / 10000.0) }
      .toSeq.toDF("dim", "loading")
  }
}
