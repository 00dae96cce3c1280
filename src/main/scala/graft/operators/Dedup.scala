package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.functions.Funcs._
import graft.sources.Staging
import graft.sources.Staging.Snapshottable

/** Deduplication operators for training-data pipelines, each designed
  * around its 100 TB shuffle profile:
  *
  *  - exact key dedup: one shuffle on the key, bounded window state;
  *  - exact content dedup: shuffle on a 128-bit content hash, never on
  *    the content itself;
  *  - MinHash + LSH banding: candidate generation shuffles only
  *    (band, key) pairs — O(docs × bands) small rows — and the
  *    quadratic verify step runs per-bucket, not per-corpus;
  *  - SimHash: one 60-bit signature per doc, banded for Hamming-ball
  *    candidate lookup.
  *
  * All hashing uses the md5-derived [[graft.functions.Funcs.hash60]]
  * family so results are engine-portable and deterministic (no seed
  * drift between runs — important for incremental dedup at scale).
  */
object Dedup {

  /** Exact dedup on a key, keeping the first row by `orderCols`
    * (deterministic iff `orderCols` is a total order within key).
    * The distributed form of the reference's dropDuplicates (P10). */
  def keepFirst(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct word-n-gram shingles per doc (adds `shingles`), by the
    * native `word_shingles` expression (one codegen'd pass per row;
    * value-identical to the built-in form `Funcs.wordShingles`,
    * tested). */
  def withShingles(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.withColumn("shingles", call_function("word_shingles", col(textCol), lit(n)))

  /** LSH banding: explode to (band, band_key) rows. rowsPerBand
    * consecutive signature entries are concatenated into the bucket
    * key; docs sharing any band key become candidates. */
  def lshBands(df: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
      .as(Seq("band", "band_key")))

  /** Exact Jaccard over shingle sets. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b)).cast("double")

  /** Pre-cluster (id, text) across the cluster before the shingling
    * lambda. Two reasons, both load-bearing at every scale: (1) the
    * higher-order shingle/hash expressions are interpreted (no codegen
    * for lambda functions), so their CPU cost must be spread over all
    * cores even when the input's file-split layout gives few tasks
    * (a single parquet row group = a single task otherwise); (2) the
    * downstream per-doc aggregation (signature mins / bit sums) then
    * needs NO further exchange — and the shuffled payload is the
    * compact (id, text) row, smaller than the exploded shingle rows
    * the aggregation would otherwise shuffle. The partition count is
    * explicit: AQE's byte-based coalescing would merge the small-byte
    * shuffle back into few partitions, which is miscalibrated for a
    * CPU-bound stage (bytes ≪ advisory target, CPU ≫). */
  private[operators] def spreadById(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.select(col(idCol), col(textCol)).repartition(parts, col(idCol))
  }

  /** The shingle frame every n-gram operator starts from: (id, text)
    * spread by [[spreadById]], shingled by [[withShingles]], and docs
    * without a shingle (fewer than `n` words) dropped. */
  private[operators] def shingledDocs(docs: DataFrame, idCol: String, textCol: String,
                                      n: Int): DataFrame =
    withShingles(spreadById(docs, idCol, textCol), textCol, n)
      .filter(size(col("shingles")) > 0)

  /** One (id, sh) row per distinct shingle of a [[shingledDocs]] frame,
    * `sh` the shingle's 60-bit hash: every join and shuffle past the
    * shingle lambda compares fixed-width longs, never strings, and the
    * oracle hashes identically, so results agree even on (cosmically
    * rare) collisions. */
  private[operators] def shingleHashes(shingled: DataFrame, idCol: String): DataFrame =
    shingled.select(col(idCol), explode(col("shingles")).as("s"))
      .select(col(idCol), hash60(col("s")).as("sh"))

  /** |A∩B| per unordered doc pair (id1 < id2) sharing a shingle: a
    * grouped count over the scalar shingle-hash equi join, so no array
    * crosses an exchange. */
  private def sharedShingleCounts(shingled: DataFrame, idCol: String): DataFrame = {
    val ex = shingleHashes(shingled, idCol)
    ex.select(col(idCol).as("id1"), col("sh"))
      .join(ex.select(col(idCol).as("id2"), col("sh")), "sh")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
  }

  /** Distinct candidate id pairs from LSH band buckets: only
    * (id, band, key) scalars shuffle, id1 < id2. Shared by the
    * Jaccard-verified and edit-distance-verified pair generators. */
  private[operators] def lshCandidateIds(sigDf: DataFrame, idCol: String,
                                         bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = lshBands(sigDf, idCol, bands, rowsPerBand)
    banded.select(col(idCol).as("id1"), col("band"), col("band_key"))
      .join(banded.select(col(idCol).as("id2"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Exact-Jaccard verification of candidate pairs (id1, id2) against
    * an (id, shingles) frame, keeping jaccard ≥ threshold. The shingle
    * arrays rejoin on the (small) surviving candidate set. The tail of
    * both [[minhashLshPairs]] and [[minhashLshPairsIncremental]]. */
  private def jaccardVerify(cand: DataFrame, shingled: DataFrame, idCol: String,
                            threshold: Double): DataFrame =
    cand
      .join(shingled.select(col(idCol).as("id1"), col("shingles").as("s1")), "id1")
      .join(shingled.select(col(idCol).as("id2"), col("shingles").as("s2")), "id2")
      .select(col("id1"), col("id2"), r4(jaccard(col("s1"), col("s2"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** The signature-store view a corpus persists once per ingest:
    * (id, shingles, sig). At 100 TB the store is the precomputed
    * history — incremental dedup never re-shingles or re-signs it.
    * The one MinHash signing device: every MinHash operator, batch and
    * streaming, signs here, by the native `minhash_sig` Catalyst
    * expression ([[graft.plans.MinHashSig]]), so the whole signature
    * emits inside the scan stage — no explode of (doc, shingle) rows,
    * no shuffle through numHashes partial aggregates. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 32): DataFrame =
    shingledDocs(docs, idCol, textCol, n).select(col(idCol), col("shingles"),
      call_function("minhash_sig", col("shingles"), lit(numHashes)).as("sig"))

  /** MinHash-LSH near-duplicate pairs: band-bucket candidates over the
    * [[minhashSignatures]] frame, then exact-Jaccard verification ≥
    * threshold. Output: (id1, id2, jaccard) with id1 < id2. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, n, numHashes)
    jaccardVerify(lshCandidateIds(sigs, idCol, bands, numHashes / bands), sigs, idCol, threshold)
  }

  /** Fuzzy near-dup pairs by bounded EDIT DISTANCE: the same MinHash
    * band buckets as [[minhashLshPairs]] generate candidates
    * (O(docs × bands) shuffle, never all-pairs), then each surviving
    * pair is verified with Levenshtein over a fixed-length text prefix.
    * Catches the "same doc, scattered small edits" family that
    * set-semantics Jaccard underweights (a few edited words barely move
    * shingle overlap but bound the edit distance), and is the standard
    * fuzzy-match primitive for title/URL/record linkage.
    *
    * Scale notes: the verify step uses Spark's thresholded
    * `levenshtein(l, r, maxDist)` — the DP row early-exits once the
    * band minimum exceeds maxDist, so cost per candidate is
    * O(prefixLen × maxDist), not O(prefixLen²); the prefix cap bounds
    * worst-case comparison cost per pair regardless of document length
    * (full-text fuzzy equality at corpus scale is what the
    * shingle-based verifiers are for). Distances are exact (the
    * threshold form returns the true distance when ≤ maxDist), so the
    * DuckDB oracle checks this end-to-end with its unthresholded
    * `levenshtein`.
    *
    * Output: (id1, id2, edit_dist) with id1 < id2, edit_dist ≤ maxDist.
    */
  def fuzzyEditPairs(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                     maxDist: Int = 40, prefixLen: Int = 160): DataFrame = {
    val pref = spreadById(docs, idCol, textCol)
      .select(col(idCol), substring(col(textCol), 1, prefixLen).as("p"))
    lshCandidateIds(minhashSignatures(docs, idCol, textCol, n, numHashes),
        idCol, bands, numHashes / bands)
      .join(pref.select(col(idCol).as("id1"), col("p").as("p1")), "id1")
      .join(pref.select(col(idCol).as("id2"), col("p").as("p2")), "id2")
      .select(col("id1"), col("id2"),
        levenshtein(col("p1"), col("p2"), maxDist).as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** Asymmetric shingle CONTAINMENT pairs: C(src→dst) = |S_src ∩
    * S_dst| / |S_src| ≥ threshold — "how much of src appears inside
    * dst". The quote/subset detector Jaccard cannot express: a short
    * doc fully embedded in a long one has tiny Jaccard (union is
    * dominated by the long doc) but containment 1.0. Standard in
    * training-data pipelines for finding excerpts, boilerplate
    * inclusions, and near-supersets before choosing which side to keep.
    *
    * Same count-based blocked-join shape as [[ngramJaccardPairs]]:
    * |A∩B| from a grouped count over the 60-bit shingle-hash equi join
    * (each unordered pair computed once, both directions emitted from
    * it), so no array crosses an exchange. Inherits the same Zipfian
    * hot-shingle caveat — on heavy-tailed corpora apply the prefix
    * filter of [[ngramJaccardPairsPrefix]] first.
    *
    * Output: (src_id, dst_id, containment) for ordered pairs, src ≠ dst.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // snapshot: the shingle frame feeds both the size lookup and the
    // exploded join — one shingle pass instead of two
    val shingled = shingledDocs(docs, idCol, textCol, n).snapshot()
    val sizes = shingled.select(col(idCol), size(col("shingles")).as("sz"))
    val inter = sharedShingleCounts(shingled, idCol)
    val dir = inter.select(col("id1").as("src_id"), col("id2").as("dst_id"), col("inter"))
      .unionByName(
        inter.select(col("id2").as("src_id"), col("id1").as("dst_id"), col("inter")))
    dir.join(sizes.select(col(idCol).as("src_id"), col("sz").as("n_src")), "src_id")
      .select(col("src_id"), col("dst_id"),
        r4(col("inter") / col("n_src").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** All-pairs n-gram Jaccard ≥ threshold, blocked on shared shingles
    * (exact: any pair with Jaccard > 0 shares a shingle). Count-based —
    * |A∩B| comes from a grouped count over the scalar shingle join and
    * |A∪B| = |A| + |B| − |A∩B|, so no array ever crosses an exchange.
    * On Zipfian corpora, where a few stopword shingles appear in a
    * large fraction of documents and make this join quadratic, use
    * [[ngramJaccardPairsPrefix]].
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val shingled = shingledDocs(docs, idCol, textCol, n)
    val sizes = shingled.select(col(idCol), size(col("shingles")).as("n"))
    sharedShingleCounts(shingled, idCol)
      .join(sizes.select(col(idCol).as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        r4(col("inter") / (col("n1") + col("n2") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT n-gram Jaccard via prefix filtering (PPJoin family): order
    * each doc's shingles by ascending global document frequency and
    * join only the first |A| − ⌈τ·|A|⌉ + 1 of them. Any pair with
    * Jaccard ≥ τ shares a prefix shingle under a consistent global
    * order (all shared shingles in the suffix ⇒ overlap < τ·|A| ≤
    * τ·|A∪B|, contradiction), so the result equals
    * [[ngramJaccardPairs]] (tested). Worth its extra bookkeeping
    * exactly when the shingle DF distribution is heavy-tailed — hot
    * stopword shingles land in suffixes and never join, bounding the
    * candidate blowup that kills the plain shingle join at corpus
    * scale.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // every stage past the shingle lambda works on 60-bit hashes, never
    // strings: the df join, the window sort, the candidate equi join and
    // the verify intersection all shuffle/compare fixed-width longs
    // stage the hashed-shingle arrays ONCE: the frame feeds the df
    // aggregate, its join-back, and both verify joins — without the
    // snapshot the shingle lambda + per-shingle md5 (the dominant scan
    // cost) re-runs 4× (a full corpus re-scan each at 100 TB)
    val hashed = shingledDocs(docs, idCol, textCol, n)
      .select(col(idCol), transform(col("shingles"), s => hash60(s)).as("sh_arr"))
      .snapshot()
    val ex = hashed.select(col(idCol), size(col("sh_arr")).as("n"),
      explode(col("sh_arr")).as("sh"))
    val prefixLen = (col("n") - ceil(col("n") * threshold) + 1).cast("int")
    val prefix = ex.join(ex.groupBy("sh").agg(count(lit(1)).as("df")), "sh")
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("df"), col("sh"))))
      .filter(col("__pos") <= prefixLen)
      .select(col(idCol), col("n"), col("__pos"), col("sh"))
    // Two PPJoin candidate prunes, both before the distinct:
    //  - length filter: Jaccard ≥ τ forces τ·|B| ≤ |A| (and vice versa);
    //  - positional filter: overlap ≤ 1 + min(n1−p1, n2−p2) for a
    //    pair's FIRST shared prefix token (every other shared token
    //    sorts after it in both docs), and Jaccard ≥ τ needs overlap
    //    ≥ τ(n1+n2)/(1+τ). A qualifying pair always survives via its
    //    first-match row, so the result is unchanged (DedupSpec proves
    //    equality with the plain join).
    val cand = prefix.select(col(idCol).as("id1"), col("n").as("n1"), col("__pos").as("p1"), col("sh"))
      .join(prefix.select(col(idCol).as("id2"), col("n").as("n2"), col("__pos").as("p2"), col("sh")), "sh")
      .filter(col("id1") < col("id2") &&
        col("n1") >= col("n2") * threshold && col("n2") >= col("n1") * threshold &&
        lit(1) + least(col("n1") - col("p1"), col("n2") - col("p2")) >=
          ceil((col("n1") + col("n2")) * threshold / (1 + threshold)))
      .select("id1", "id2").distinct()
    val inter = size(array_intersect(col("s1"), col("s2")))
    cand
      .join(hashed.select(col(idCol).as("id1"), col("sh_arr").as("s1")), "id1")
      .join(hashed.select(col(idCol).as("id2"), col("sh_arr").as("s2")), "id2")
      .select(col("id1"), col("id2"),
        r4(inter / (size(col("s1")) + size(col("s2")) - inter).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): per document, hash every ORDERED word k-gram
    * (duplicates kept — unlike the set-semantics shingle operators,
    * position matters here), slide a w-window over the hash sequence
    * and keep each window's MINIMUM as a fingerprint. Winnowing
    * guarantees any shared run of ≥ w+k−1 words yields at least one
    * shared fingerprint while storing ~2/(w+1) of the hashes — the
    * local-fingerprinting primitive behind code-clone/plagiarism
    * detection. Output per doc: gram/window/fingerprint counts plus
    * how many of its fingerprints appear in ANY other document and
    * that sharing fraction.
    *
    * Scale shape: the k-gram build is a narrow per-row lambda; the
    * window minimum runs inside the (doc) partition; the document-
    * frequency join shuffles only (doc, fingerprint) scalars — the
    * winnowed set, ~2/(w+1) of the grams, never the text. */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 4, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = split(col(textCol), " ")
    val grams = when(size(words) >= k,
      transform(sequence(lit(1), size(words) - (k - 1)),
        i => concat_ws(" ", slice(words, i, lit(k))))).otherwise(array())
    val g = spreadById(docs, idCol, textCol)
      .select(col(idCol).as("doc_id"), grams.as("grams"))
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
        posexplode(col("grams")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("n_grams"), col("pos"),
        hash60(col("gram")).as("gh"))
    val fps = g
      .withColumn("fp", min(col("gh")).over(
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)))
      .filter(col("pos") >= w - 1)
      .select(col("doc_id"), col("n_grams"), col("fp"))
      .distinct()
      .snapshot() // feeds the doc-frequency dimension AND the rollup
    winnowRollup(fps, w)
  }

  /** [[winnowingFingerprints]] with the fingerprint set computed by
    * the native `winnow_fps` expression ([[graft.plans.WinnowFps]]):
    * the whole hash + sliding-min + distinct runs inside the scan
    * stage, so only the winnowed set (~2/(w+1) of the grams) ever
    * explodes — the relational form shuffles and sorts EVERY gram row
    * through a doc-partitioned window. Value-identical (tested); the
    * preferred form. */
  def winnowingFingerprintsNative(docs: DataFrame, idCol: String,
                                  textCol: String, k: Int = 4,
                                  w: Int = 4): DataFrame = {
    val words = split(col(textCol), " ")
    val fps = spreadById(docs, idCol, textCol)
      .select(col(idCol).as("doc_id"),
        greatest(size(words) - (k - 1), lit(0)).as("n_grams"),
        call_function("winnow_fps", words, lit(k), lit(w)).as("fps"))
      .filter(size(col("fps")) > 0)
      .select(col("doc_id"), col("n_grams"), explode(col("fps")).as("fp"))
      .snapshot() // feeds the doc-frequency dimension AND the rollup
    winnowRollup(fps, w)
  }

  /** Shared doc-frequency + per-doc rollup tail of both winnowing
    * forms: input is the distinct (doc_id, n_grams, fp) set. */
  private def winnowRollup(fps: DataFrame, w: Int): DataFrame = {
    val docFreq = fps.groupBy("fp").agg(count(lit(1)).as("dw"))
    fps.join(docFreq, "fp")
      .groupBy("doc_id")
      .agg(max(col("n_grams")).as("n_grams"),
        (max(col("n_grams")) - (w - 1)).as("n_windows"),
        count(lit(1)).as("n_fingerprints"),
        sum(when(col("dw") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
        col("n_windows").cast("long").as("n_windows"),
        col("n_fingerprints"), col("n_shared"),
        r4(col("n_shared").cast("double") / col("n_fingerprints"))
          .as("shared_frac"))
  }

  /** Theoretical MinHash-LSH capture probability 1−(1−s^r)^b at the
    * midpoint of each 0.1-wide Jaccard band, computed ONCE here and
    * embedded as the same double literals in both engines (mirrors
    * the [[graft.operators.Similarity.ndcgDiscounts]] pattern — no
    * runtime pow, so no cross-engine libm risk). */
  def lshExpectedRecall(bands: Int, rowsPerBand: Int): Seq[Double] =
    (0 until 10).map { i =>
      val s = (i + 0.5) / 10.0
      1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)
    }

  /** Measured recall of the MinHash-LSH candidate stage against the
    * EXACT n-gram-Jaccard ground truth, bucketed by 0.1-wide Jaccard
    * band — the dedup lane's "measure, don't guess" gauge (the
    * S-curve every LSH parameter choice implicitly bets on), the
    * companion of [[graft.operators.Similarity.recallAtK]] for the
    * ANN lane. Each exact pair at jaccard ≥ threshold is marked
    * caught iff the banded signature join would have produced it as
    * a candidate; per band the measured capture rate sits next to
    * the closed-form expectation 1−(1−s^r)^b ([[lshExpectedRecall]])
    * so parameter drift (bands/rows mistuned for the target
    * threshold) is visible as measured-vs-expected divergence.
    *
    * Output: (j_lo, n_exact, n_caught, recall, expected_recall), one
    * row per occupied band, j_lo = inclusive lower Jaccard edge.
    * Band assignment runs on the exact INTEGER 4-dp-scaled jaccard
    * (floor division by 1000), so band edges are decimal-exact in
    * both engines.
    *
    * Scale shape: ground truth comes from the hash-join shingle
    * intersection (never all-pairs — only pairs sharing a shingle
    * hash meet), the candidate set is the usual (id, band, key)
    * scalar shuffle, and the band report joins two pair-grain frames
    * on (id1, id2) before collapsing to ≤ 10 rows. */
  def lshRecallByBand(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / bands
    val cand = lshCandidateIds(minhashSignatures(docs, idCol, textCol, n, numHashes),
        idCol, bands, rowsPerBand)
      .withColumn("caught", lit(1L))
    val expectedLit = array(lshExpectedRecall(bands, rowsPerBand).map(lit): _*)
    val band10 = least(floor(scaled(col("jaccard"), 4) / lit(1000.0)), lit(9.0))
      .cast("int")
    ngramJaccardPairs(docs, idCol, textCol, n, threshold)
      .join(cand, Seq("id1", "id2"), "left")
      .select(band10.as("band10"), coalesce(col("caught"), lit(0L)).as("caught"))
      .groupBy("band10")
      .agg(count(lit(1)).as("n_exact"), sum(col("caught")).as("n_caught"))
      .select((col("band10") / 10.0).as("j_lo"),
        col("n_exact"), col("n_caught"),
        r4(col("n_caught").cast("double") / col("n_exact")).as("recall"),
        element_at(expectedLit, col("band10") + 1).as("expected_recall"))
      .orderBy("j_lo")
  }

  /** INCREMENTAL MinHash-LSH dedup: near-dup pairs where at least one
    * side belongs to the fresh batch — fresh×fresh and fresh×store,
    * never store×store (those pairs were found when the store rows
    * were themselves fresh). Both inputs are (id, shingles, sig)
    * frames from [[minhashSignatures]]; per ingest only the fresh
    * batch is signed, and the banding join's left side is the SMALL
    * fresh frame, so per-batch cost is O(batch + matched candidates),
    * not O(corpus). Identical pair semantics to running
    * [[minhashLshPairs]] over the whole corpus and keeping the
    * fresh-involved pairs (tested). */
  def minhashLshPairsIncremental(store: DataFrame, fresh: DataFrame,
                                 idCol: String, numHashes: Int = 32, bands: Int = 8,
                                 threshold: Double = 0.5): DataFrame = {
    val all = store.select(col(idCol), col("shingles"), col("sig"))
      .union(fresh.select(col(idCol), col("shingles"), col("sig")))
    val freshBanded = lshBands(fresh, idCol, bands, numHashes / bands)
    val allBanded = lshBands(all, idCol, bands, numHashes / bands)
    val cand = freshBanded.select(col(idCol).as("fid"), col("band"), col("band_key"))
      .join(allBanded.select(col(idCol).as("aid"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("fid") =!= col("aid"))
      .select(least(col("fid"), col("aid")).as("id1"),
        greatest(col("fid"), col("aid")).as("id2"))
      .distinct()
    jaccardVerify(cand, all, idCol, threshold)
  }

  /** Connected components over a near-dup pair graph by alternating
    * LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — public algorithm;
    * reference has no graph operator, this is the scale path behind
    * near-dup grouping). Every vertex gets the MINIMUM id reachable
    * from it as its component label — the deterministic "canonical
    * representative" a dedup pipeline keeps while dropping the rest of
    * the group.
    *
    * Convergence is O(log n) rounds whatever the graph's depth: label
    * propagation on a million-doc near-dup chain needs a million
    * rounds; star contraction halves tree heights every alternation,
    * so even a pathological chain at 100 TB converges in a few dozen
    * jobs.
    *
    * Edges are kept directed child→parent (`u > v`). One round =
    *  - large-star: per vertex x, connect every LARGER neighbor to
    *    m = min(Γ(x) ∪ {x});
    *  - small-star: per vertex u over its smaller neighbors, rewire
    *    them (and u) to their minimum.
    * Both preserve connectivity (paper, Lemmas 1-2); the fixpoint is
    * a star forest rooted at component minima. Convergence check =
    * edge-set equality with the previous round (count + anti-join,
    * both on snapshots). Exact and deterministic — no sampling, no
    * hashing tricks; ids may be of any orderable type. Non-convergence
    * within `maxIters` throws rather than returning partial labels.
    *
    * Each round is staged with `snapshot()` (flat lineage) and the
    * superseded round released; the last round's blocks stay with the
    * returned labels, for [[graft.sources.Staging.scoped]] to free.
    * `onConverged` reports the round count (tests assert the O(log n)
    * bound with it). Only vertices present in `pairs` are labeled:
    * singletons are their own group by definition and never shuffle. */
  def connectedComponentsStar(pairs: DataFrame, src: String, dst: String,
                              maxIters: Int = 50,
                              onConverged: Int => Unit = _ => ()): DataFrame = {

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val mins = nbrs.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      nbrs.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
      // no distinct here: duplicates are bounded by degree and the
      // small-star step dedups once — one less shuffle per round
    }

    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v")) // smaller neighbors → min
        .union(mins.select(col("u"), col("m").as("v"))) // u itself → min
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var edges = pairs
      .select(greatest(col(src), col(dst)).as("u"), least(col(src), col(dst)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .snapshot()
    var nEdges = edges.count()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val next = smallStar(largeStar(edges)).snapshot()
      val nNext = next.count()
      converged = nNext == nEdges && next.exceptAll(edges).isEmpty
      Staging.release(edges)
      edges = next
      nEdges = nNext
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponentsStar: no fixpoint after $maxIters rounds")
    onConverged(i)
    // Converged star forest: each non-root vertex has exactly one edge
    // to its component minimum; roots label themselves.
    val verts = pairs.select(col(src).as("id")).union(pairs.select(col(dst).as("id"))).distinct()
    verts
      .join(edges.select(col("u").as("id"), col("v").as("lbl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("label"))
  }

  /** Driver-side union-find over a COLLECTED long edge list — the
    * small branch of [[dedupGroups]]. Near-dup graphs are usually tiny
    * relative to the corpus (pairs ≈ duplicate docs, not all docs), so
    * when the edge list broadcasts, a dozen scheduler round-trips of
    * iterative contraction collapse into one collect + an O(E α(E))
    * in-memory pass. The groups (doc_id, rep_id, group_size) come out
    * of that pass as one local relation, ids cast to `idType`: no job
    * builds or stages them. This method materializes whatever it is
    * given; [[dedupGroups]] calls it only below the regime gate. Same
    * fixpoint as [[connectedComponentsStar]]: every vertex labeled with
    * its component MINIMUM — exact and deterministic, so the branches
    * are interchangeable under one oracle (tested). */
  private[operators] def connectedComponentsLocal(edges: DataFrame, idType: DataType): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // null endpoints drop out of join/group keys in the distributed
    // form; drop them here too (getLong would silently unbox null→0L
    // and merge the edge into vertex 0's component). Collect as
    // specialized (Long, Long) tuples, not boxed Rows.
    val rows: Array[(Long, Long)] = edges
      .filter(col(edges.columns(0)).isNotNull && col(edges.columns(1)).isNotNull)
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // union by MIN root so the final root IS the component minimum
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    // touch every endpoint so singleton-in-pairs vertices are emitted
    val labels = rows.iterator.flatMap(e => Iterator(e._1, e._2))
      .toArray.distinct.sorted.map(v => v -> find(v))
    val sizes = labels.groupMapReduce(_._2)(_ => 1L)(_ + _)
    spark.createDataset(labels.map { case (v, l) => (v, l, sizes(l)) }.toSeq)
      .select(col("_1").cast(idType).as("doc_id"), col("_2").cast(idType).as("rep_id"),
        col("_3").as("group_size"))
  }

  /** Component labels (id, label) → near-dup groups (doc_id, rep_id,
    * group_size), snapshotted. Ends [[dedupGroups]]' star branch;
    * composes with [[connectedComponentsStar]] for a caller that wants
    * that branch at any size. */
  def groupsOf(labels: DataFrame): DataFrame =
    labels.select(col("id").as("doc_id"), col("label").as("rep_id"))
      .join(labels.groupBy(col("label").as("rep_id")).agg(count(lit(1)).as("group_size")), "rep_id")
      .select("doc_id", "rep_id", "group_size")
      .snapshot()

  /** Near-dup groups: pair graph → (doc_id, rep_id, group_size) with
    * rep_id = min doc id of the component. The keep/drop decision of
    * a dedup pipeline is then `doc_id != rep_id`.
    *
    * One regime gate, [[graft.sources.Staging.isLarge]] on the staged
    * long edge list: a small list runs [[connectedComponentsLocal]]
    * (one job to collect, union-find on the driver, the groups a local
    * relation); a large or unmeasured one (reliable mode) runs
    * [[connectedComponentsStar]] and [[groupsOf]], as do non-integral
    * ids. Both branches label with the component minimum, and integral
    * ids come back as the wider of the two id types either way. */
  def dedupGroups(pairs: DataFrame, src: String = "id1", dst: String = "id2"): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def width(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 4; case LongType => 8
      case _        => 0
    }
    val (ts, td) = (pairs.schema(src).dataType, pairs.schema(dst).dataType)
    if (width(ts) == 0 || width(td) == 0) groupsOf(connectedComponentsStar(pairs, src, dst))
    else {
      val edges = pairs.select(col(src).cast("long").as("a"), col(dst).cast("long").as("b")).snapshot()
      // ids and labels mix values from BOTH columns; casting back to the
      // narrower of two mixed widths could wrap silently (non-ANSI cast),
      // so the restore type is the WIDER of the two (long → wider is
      // exact; every id/label value fits by construction)
      val idType = if (width(ts) >= width(td)) ts else td
      val out =
        if (Staging.isLarge(edges)) {
          val labels = connectedComponentsStar(edges, "a", "b")
          groupsOf(labels.select(col("id").cast(idType).as("id"),
            col("label").cast(idType).as("label")))
        } else connectedComponentsLocal(edges, idType)
      Staging.release(edges)
      out
    }
  }

  /** The end-to-end dedup decision a pipeline actually applies: MinHash
    * near-dup pairs → connected-component groups → keep each group's
    * canonical representative (its min doc id) plus every unpaired
    * doc. One call from corpus to kept corpus. The drop set rides a
    * shuffled anti join on the id — it can be a large fraction of the
    * corpus at 100 TB, so it is deliberately NOT broadcast. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                  threshold: Double = 0.5): DataFrame = {
    val groups = dedupGroups(
      minhashLshPairs(docs, idCol, textCol, n, numHashes, bands, threshold))
    val drop = groups.filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Per-source dedup report: the curation summary every corpus run
    * publishes — how much each ingest source shrinks under near-dup
    * removal (an outlier drop rate usually means a mirror or a
    * scraper bug, not organic text). One [[dedupCorpus]] decision
    * joined back to provenance, then a sources-sized aggregate. */
  def dedupReport(docs: DataFrame, idCol: String, textCol: String,
                  sourceCol: String, n: Int = 3, numHashes: Int = 32,
                  bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val kept = dedupCorpus(docs, idCol, textCol, n, numHashes, bands, threshold)
      .select(col(idCol), lit(1L).as("__k"))
    docs.select(col(idCol), col(sourceCol))
      .join(kept, Seq(idCol), "left")
      .groupBy(sourceCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__k"), lit(0L))).as("n_kept"))
      .select(col(sourceCol), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        rd((col("n_docs") - col("n_kept")).cast("double") / col("n_docs"), 4)
          .as("drop_rate"))
  }

  /** Exact-substring dedup signal at k-gram granularity (the
    * distributed stand-in for Lee et al. 2022's suffix-array exact
    * substring dedup, "Deduplicating Training Data Makes Language
    * Models Better"): for each document, how many of its TOKENS are
    * covered by at least one length-k word gram that also appears in
    * ANOTHER document. Where [[graft.operators.TextAnalysis
    * .crossDocDupNgrams]] counts distinct short shingles (a score),
    * this measures contiguous COVERAGE with long grams — the quantity
    * an exact-substring remover would actually cut.
    *
    * Coverage is an interval union computed by windowing: duplicated
    * gram STARTS sorted per doc; each start contributes
    * min(k, next_start − start) tokens (overlapping grams merge, gaps
    * don't). Plan: positional gram hashes (narrow after the spread) →
    * distinct-doc count per gram (two partial-agg shuffles) → window
    * per doc. Only gram starts that survived the ≥2-docs filter reach
    * the window — a tiny fraction of positions on a healthy corpus.
    * Within-doc repeats (one doc, many positions) deliberately do NOT
    * count; that is [[TextAnalysis.repetitionSignals]]' job.
    * Docs shorter than k words have no grams and report zero coverage.
    * Output: (id, n_tokens, dup_tokens, dup_token_frac). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8): DataFrame = {
    val base = spreadById(df, idCol, textCol)
      .select(col(idCol), split(col(textCol), " ").as("w"))
    // pos is 0-based: posexplode indexes the sequence, whose element i
    // (1-based slice start) is the gram starting at token i-1
    val grams = base.filter(size(col("w")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("w")) - (k - 1)),
          i => hash60(concat_ws(" ", slice(col("w"), i, lit(k))))))
        .as(Seq("pos", "gh")))
    val shared = grams.groupBy("gh")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val cov = grams.join(shared.select("gh"), "gh")
      .select(col(idCol), col("pos"))
      .withColumn("nxt", lead(col("pos"), 1).over(w))
      .select(col(idCol),
        least(coalesce(col("nxt") - col("pos"), lit(k.toLong)), lit(k.toLong)).as("c"))
      .groupBy(col(idCol)).agg(sum(col("c")).as("dup_tokens"))
    base.select(col(idCol), size(col("w")).cast("long").as("n_tokens"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        r4(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens").cast("double"))
          .as("dup_token_frac"))
  }

  /** SimHash near-duplicate pairs: the 60-bit signature from the native
    * `simhash_sig` Catalyst expression ([[graft.plans.SimHashSig]])
    * emits inside the scan stage — no token explode, no 60-column
    * bit-sum aggregation shuffle. The signature is banded into `bands`
    * chunks (Hamming distance ≤ bands−1 guarantees one exact band
    * match), candidates join per band, and each pair is verified
    * bit_count(xor) ≤ maxHamming. Output: (id1, id2, hamming), id1 < id2. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    val bandBits = 60 / bands
    val mask = (1L << bandBits) - 1
    val banded = spreadById(docs, idCol, textCol)
      .select(col(idCol), call_function("simhash_sig",
        array_distinct(split(col(textCol), " ")), lit(60)).as("simhash"))
      .select(col(idCol), col("simhash"), posexplode(
        expr(s"transform(sequence(0, ${bands - 1}), b -> shiftright(simhash, b * $bandBits) & $mask)"))
      .as(Seq("band", "band_key")))
    val l = banded.select(col(idCol).as("id1"), col("simhash").as("sh1"),
      col("band"), col("band_key"))
    val r = banded.select(col(idCol).as("id2"), col("simhash").as("sh2"),
      col("band"), col("band_key"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(sh1 ^ sh2)").as("hamming"))
      .filter(col("hamming") <= maxHamming) // filter BEFORE distinct: candidates are ~10× the survivors
      .distinct()
  }

  /** URL canonicalization — the grain every web-scale pretraining
    * pipeline dedups at BEFORE content grain (CCNet, Gopher, and
    * Dolma all key their first dedup pass on a normalized URL;
    * Penedo et al.'s RefinedWeb §3.2 strips exactly this class of
    * superficial variation). Appends three columns:
    *
    *  - `canonical_url`: scheme and host lowercased; the scheme's
    *    default port stripped (`:80` for http, `:443` for https —
    *    a NON-default port is a different origin and stays);
    *    fragment dropped (never sent to the server); `utm_*`
    *    tracking params dropped, remaining params kept in order
    *    (param order is significant to generic servers — sorting
    *    would over-merge);
    *  - `host`: the canonical authority (lowercased, default port
    *    stripped);
    *  - `registered_domain`: last two host labels (the rollup grain
    *    crawl budgets and robots policies key on; a public-suffix
    *    list refines multi-label TLDs and can be swapped in here).
    *
    * Precondition: canonicalization only applies to WELL-FORMED
    * absolute URLs (`scheme://…`). A scheme-less or protocol-relative
    * input (`example.com/p`, `//host/p`) has no authority the regexes
    * can trust, so it passes through UNCHANGED as its own
    * `canonical_url` (never merged with anything it didn't byte-equal)
    * with `host`/`registered_domain` NULL — the conservative choice
    * for a dedup KEY, where over-merging loses data and under-merging
    * only costs a later pass. A NULL url yields NULL in all three.
    *
    * Everything is built-in string/regexp functions evaluated in the
    * SCAN projection — no UDF, no shuffle, no driver state — so at
    * 100 TB canonicalization is free: it rides the parquet scan and
    * the only shuffle anywhere downstream is whatever dedup rollup
    * the caller runs on the new columns. */
  def urlCanonicalize(df: DataFrame, urlCol: String): DataFrame = {
    df.withColumn("u_nofrag", regexp_replace(col(urlCol), "#.*", ""))
      .withColumn("u_scheme",
        lower(regexp_extract(col("u_nofrag"), "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1)))
      .withColumn("u_host0",
        lower(regexp_extract(col("u_nofrag"),
          "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)", 1)))
      .withColumn("u_path",
        regexp_extract(col("u_nofrag"),
          "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)", 1))
      .withColumn("u_q", expr(
        "array_join(filter(split(regexp_extract(u_nofrag, '\\\\?([^#]*)', 1), '&')," +
          " p -> p != '' AND NOT p rlike '^utm_'), '&')"))
      .withColumn("host",
        when(col("u_scheme").isNull || col("u_scheme") === "",
          lit(null).cast("string"))
          .when(col("u_scheme") === "http", regexp_replace(col("u_host0"), ":80$", ""))
          .when(col("u_scheme") === "https",
            regexp_replace(col("u_host0"), ":443$", ""))
          .otherwise(col("u_host0")))
      .withColumn("canonical_url",
        when(col("u_scheme").isNull || col("u_scheme") === "", col(urlCol))
          .otherwise(concat(col("u_scheme"), lit("://"), col("host"), col("u_path"),
            when(col("u_q") === "", lit(""))
              .otherwise(concat(lit("?"), col("u_q"))))))
      .withColumn("registered_domain",
        regexp_extract(regexp_replace(col("host"), ":[0-9]+$", ""),
          "[^.]+\\.[^.]+$", 0))
      .drop("u_nofrag", "u_scheme", "u_host0", "u_path", "u_q")
  }

  /** Host-grain dedup rollup over [[urlCanonicalize]]'s columns — the
    * frame a crawl-dedup pass publishes per host: how many raw docs,
    * how many DISTINCT canonical URLs they collapse to, and the
    * duplicate ratio. One hash-partial rollup on (host, domain);
    * `n_urls` is an exact distinct count (partial-aggregable via
    * Spark's two-phase distinct rewrite), never a collected set. */
  def urlGrainRollup(canon: DataFrame): DataFrame =
    canon.groupBy("host", "registered_domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canonical_url")).as("n_urls"),
        min(col("doc_id")).as("first_doc_id"))
      .select(col("host"), col("registered_domain"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_urls").cast("long").as("n_urls"),
        col("first_doc_id").cast("long").as("first_doc_id"),
        rd((col("n_docs") - col("n_urls")).cast("double") /
          col("n_docs").cast("double"), 6).as("dup_ratio"))

  /** Paragraph-grain exact dedup signal (the Dolma pipeline's second
    * dedup pass — Soldaini et al. 2024 §2.3 mark PARAGRAPHS seen more
    * than once corpus-wide, because boilerplate repeats at paragraph
    * grain even when no two documents match as wholes; CCNet and
    * RefinedWeb run the same line/paragraph-grain pass). For every
    * document: how many of its paragraphs (split on `sep`, taken as a
    * LITERAL separator; empties dropped) occur ≥ 2 times in the whole
    * corpus — within-doc repeats count, they are duplication too —
    * and what fraction of the document's paragraph characters that
    * duplicated subset covers (`dup_char_frac` is the quantity a
    * paragraph-dedup remover would actually cut).
    *
    * Scale shape: paragraphs reduce to [[graft.functions.Funcs.hash60]]
    * keys inside the scan projection (the full text never shuffles —
    * only (id, hash, length) triples); ONE partial-aggregable
    * occurrence rollup on the hash, one co-partitioned join back on
    * the same key, one per-doc rollup. No windows, no pair space. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    val paras = spreadById(df, idCol, textCol)
      .select(col(idCol),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as("para"))
      .filter(col("para") =!= "")
      .select(col(idCol), hash60(col("para")).as("ph"),
        length(col("para")).cast("long").as("plen"))
      .snapshot() // feeds the occurrence rollup AND the per-doc rollup
    val occ = paras.groupBy("ph").agg(count(lit(1)).as("n_occ"))
    paras.join(occ, "ph")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_paras"),
        sum(col("plen")).as("n_chars"),
        sum(when(col("n_occ") >= 2, col("plen")).otherwise(0L)).as("dup_chars"))
      .select(col(idCol),
        col("n_paras").cast("long").as("n_paras"),
        col("n_dup_paras").cast("long").as("n_dup_paras"),
        col("n_chars").cast("long").as("n_chars"),
        rd(col("dup_chars").cast("double") /
          nullifZero(col("n_chars").cast("double")), 6).as("dup_char_frac"))
  }
}
