package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs._
import graft.sources.Staging.Snapshottable

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, stopword-profile language ID, quality scoring,
  * and shingle-hash document fingerprinting.
  *
  * Everything is built from codegen'd array/string expressions — one
  * narrow map stage, no UDFs, no shuffle — so a 100 TB corpus scans at
  * parquet-reader speed and the operators fuse into whatever pipeline
  * follows (dedup, filtering, bucketing).
  */
object TextAnalysis {

  /** Per-language stopword profiles for the n-gram/stopword language
    * heuristic. Tiny on purpose: broadcast as literals into codegen. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
    "fr" -> Seq("le", "la", "et", "les", "un", "est"),
    "zh" -> Seq("de", "le", "shi", "he", "zai"))

  private def tokens(text: Column): Column = split(text, " ")

  /** Stopword hits of `text`: its tokens in profile `i` of
    * [[stopwords]], or in any profile for `i = stopwords.size`. Every
    * read is an element of one native `stopword_hits` call
    * ([[graft.plans.StopwordHits]], equal to
    * `size(filter(split(text, " "), t -> t IN (words)))`), which a
    * projection evaluates once per row however many elements it reads. */
  private def hits(text: Column, i: Int): Column =
    call_function("stopword_hits", text, typedLit(stopwords.map(_._2))).getItem(i)

  /** BPE-ish subword pattern: alpha runs, digit runs, or single
    * non-alphanumeric symbols — the usual pre-tokenization granularity
    * feeding a byte-pair encoder. */
  val subwordPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Corpus-grounded token rarity: for each document, the average
    * DOCUMENT FREQUENCY of its (frequency-weighted) tokens —
    * the no-transcendentals stand-in for unigram log-likelihood
    * scoring (low mean_df ⇒ rare/gibberish vocabulary, high ⇒ common
    * language; threshold per corpus). Deliberately avoids log():
    * libm transcendentals are not bit-portable across engines, while
    * this is integer sums with ONE final division — deterministic and
    * oracle-checkable. Two shuffles (df count, per-doc sum), both
    * partial-aggregable; tokens travel as 60-bit hashes. */
  def tokenRarity(df: DataFrame, idCol: String, textCol: String,
                  hotK: Int = 1024): DataFrame = {
    val ex = Dedup.spreadById(df, idCol, textCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .select(col(idCol), hash60(col("t")).as("th"))
    val docFreq = ex.select(col(idCol), col("th")).distinct()
      .groupBy("th").agg(count(lit(1)).as("df"))
    // The token-hash key is Zipfian — a stopword's rows would all land
    // on one reducer. Resolve the top-hotK high-DF head MAP-SIDE
    // (broadcast equi + broadcast anti join, no shuffle of the hot
    // rows); only tail keys — bounded per-key cardinality by
    // construction — take the shuffle join. docFreq appears three
    // times in the plan; AQE's stage cache reuses the materialized
    // exchange across appearances (ReusedExchange, asserted in
    // PlanSpec on the executed plan — at 100 TB, persist docFreq or
    // stage it to a table if the residual duplicate matters).
    // Identical (id, df) multiset either way; integer sums are
    // order-independent, so the result is unchanged.
    val head = docFreq.orderBy(col("df").desc, col("th")).limit(hotK)
    val hot = ex.join(broadcast(head), "th")
    val cold = ex.join(broadcast(head.select("th")), Seq("th"), "left_anti")
      .join(docFreq, "th")
    hot.unionByName(cold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("df")).as("sum_df"))
      .select(col(idCol), col("n_tokens"), col("sum_df"),
        r4(col("sum_df") / col("n_tokens").cast("double")).as("mean_df"))
  }

  /** TF-IDF ranked retrieval: the top-k documents for a bag of query
    * terms, scored sum_t tf(t,d) · ⌊N·10⁶ / df(t)⌋. The idf weight is
    * the floor of a single IEEE division (portable bit-for-bit across
    * engines — same reason [[tokenRarity]] avoids log(); the 10⁶ scale
    * keeps integer precision on the rare-term end), so the whole score
    * is integer arithmetic and the DuckDB oracle checks it exactly.
    *
    * Scale shape: tokens filter to the query vocabulary MAP-SIDE
    * before anything shuffles (the explode never materializes
    * non-query terms past the scan stage), tf is a partial-aggregable
    * grouped count, df derives from tf (|terms| rows — broadcast), and
    * the final top-k is a single-column TakeOrdered. On a 100 TB
    * corpus the only full-data cost is the scan + one narrow shuffle
    * of (doc, term) counts for the handful of query terms.
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
                terms: Seq[String], k: Int = 20): DataFrame = {
    val ex = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .filter(col("t").isInCollection(terms))
    val tf = ex.groupBy(col(idCol), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfreq), "t")
      .crossJoin(broadcast(nDocs))
      .withColumn("w", floor(col("n_docs") * lit(1000000.0) / col("df")).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("w")).as("score"),
        count(lit(1)).as("n_query_terms"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Inverted-index build: per token, the document frequency plus a
    * bounded sorted posting sample (first `sampleK` doc ids) — the
    * retrieval-index companion to [[tfidfTopK]] and the seed for any
    * keyword-search or doc-lookup service over the corpus.
    *
    * Scale shape: the (token, doc) grain reduces by `distinct` with
    * map-side combine; df is a partial-aggregable grouped count (the
    * Zipfian token key is absorbed by partial aggregation — a
    * stopword's count combines within each map task); and the posting
    * arrays are CAPPED BEFORE collection via rank pushdown
    * ([[Ranking.topKPerGroup]] → WindowGroupLimit), so no executor
    * ever buffers an unbounded stopword posting list. Uncapped full
    * postings at 100 TB would be a different storage layout (doc-id
    * runs, delta-encoded) — the bounded sample is the DataFrame-shaped
    * contract.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    sampleK: Int = 16): DataFrame = {
    // stage the distinct (doc, token) grain once: it feeds both the df
    // count and the rank-capped postings branch — without the snapshot
    // each branch re-runs the scan + explode + distinct
    val ex = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .distinct()
      .snapshot()
    val dfreq = ex.groupBy("token").agg(count(lit(1)).as("df"))
    val capped = Ranking.topKPerGroup(ex, Seq("token"), Seq(col("doc_id").asc), sampleK)
    val postings = capped.groupBy("token")
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
    dfreq.join(postings, "token")
  }

  /** One BPE training round: corpus-wide counts of ADJACENT subword
    * pre-token pairs ([[subwordPattern]] granularity), ranked — the
    * top pair is exactly the next merge a byte-pair encoder would
    * learn. Iterating (merge, re-count) yields the full vocabulary;
    * one round as a relational query is the distributed-counting
    * heart of that loop, and the part that must scale to the corpus.
    *
    * Scale shape: pair extraction is a narrow array expression per
    * row (no self-join — adjacency is positional within the doc),
    * the count is one partial-aggregable shuffle (Zipfian pair key
    * absorbed map-side like every token count here), and the top-k is
    * a TakeOrdered. */
  def bpeMergeCandidates(docs: DataFrame, textCol: String,
                         k: Int = 20): DataFrame = {
    // spread first: the regex + pair lambdas are CPU-bound and a
    // single-row-group scan would otherwise run them on one task
    // (same rationale as Dedup.spreadById); adjacency via zip_with of
    // the token array against its own shift — no per-index element_at
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val toks = regexp_extract_all(lower(col(textCol)), lit(subwordPattern), lit(0))
    val pairs = zip_with(
      slice(col("__toks"), lit(1), size(col("__toks")) - 1),
      slice(col("__toks"), lit(2), size(col("__toks")) - 1),
      (a, b) => concat_ws(" ", a, b))
    docs.select(col(textCol)).repartition(parts)
      .select(toks.as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(pairs).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** BPE ENCODING with merges learned in the same plan — the apply
    * half of [[bpeMergeCandidates]]: the top-`numMerges` adjacent
    * pairs (one counting pass, ranked (count desc, pair) — a
    * single-pass approximation of the iterative learn loop,
    * deliberate and documented) become the merge table, and each doc's
    * subword stream is folded once per merge in rank order —
    * left-to-right greedy replacement, the standard BPE apply rule.
    *
    * Fully relational on purpose: the merge table stays a COLUMN
    * (aggregated into one ordered array, broadcast by cross join), the
    * apply step is `aggregate` folds whose lambdas read that column —
    * no driver round-trip bakes learned values into the plan, and
    * DuckDB mirrors the whole thing (same learn CTE, same folds via
    * `list_reduce`, correlated `m[i]` refs) so the encode is
    * hash-checked end to end. `try_element_at` keeps a short merge
    * table (tiny corpus) a no-op rather than an ANSI index error.
    *
    * Scale notes: the fold is interpreted per element and copies the
    * accumulator (O(len²) per doc per merge) — fine for the
    * oracle-parity surface. Merge learning itself is the scalable half
    * (partial-agg shuffle + TakeOrdered). */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                numMerges: Int = 8): DataFrame = {
    val merges = bpeMergeCandidates(docs, textCol, numMerges)
      .agg(sort_array(collect_list(struct((-col("n")).as("nn"), col("pair").as("p"))))
        .as("sp"))
      .select(transform(col("sp"), s => s.getField("p")).as("m"))
    val toksExpr = regexp_extract_all(lower(col(textCol)), lit(subwordPattern), lit(0))
    def fold(inner: String, i: Int): String =
      s"""aggregate($inner, cast(array() as array<string>),
         |  (acc, x) -> CASE
         |    WHEN size(acc) = 0 THEN array(x)
         |    WHEN element_at(acc, -1) = split_part(try_element_at(m, $i), ' ', 1)
         |         AND x = split_part(try_element_at(m, $i), ' ', 2)
         |      THEN concat(slice(acc, 1, size(acc) - 1),
         |                  array(replace(try_element_at(m, $i), ' ', '')))
         |    ELSE concat(acc, array(x)) END)""".stripMargin
    val encoded = (1 to numMerges).foldLeft("__toks")(fold)
    Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), toksExpr.as("__toks"))
      .crossJoin(broadcast(merges))
      .select(col(idCol), size(col("__toks")).cast("long").as("n_subwords"),
        expr(encoded).as("bpe_tokens"))
      .withColumn("n_bpe", size(col("bpe_tokens")).cast("long"))
      .select(col(idCol), col("n_subwords"), col("n_bpe"), col("bpe_tokens"))
  }

  /** Cluster labeling: the top-k most frequent tokens per embedding
    * cluster — the human-readable summary that turns an opaque
    * `(id, cell)` assignment ([[Similarity.kmeansRefine]] /
    * [[Similarity.ivfAssign]]) into "what is this cluster about",
    * and the standard first diagnostic after clustering a corpus.
    *
    * Scale shape: tokens join the (id, cell) assignment on id (the
    * assignment is vectors-not-tokens sized; Spark picks broadcast vs
    * shuffle by stats), counts reduce per (cell, token) with map-side
    * combine, and the top-k runs as rank pushdown over the already
    * tiny (cells × vocab) frame.
    */
  def clusterTopTerms(docs: DataFrame, idCol: String, textCol: String,
                      assign: DataFrame, assignIdCol: String = "id",
                      k: Int = 5): DataFrame = {
    val ex = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol).as("__did"), explode(tokens(col(textCol))).as("token"))
    val cellTok = ex
      .join(assign.select(col(assignIdCol).as("__did"), col("cell")), "__did")
      .groupBy("cell", "token").agg(count(lit(1)).as("n"))
    Ranking.topKPerGroup(cellTok, Seq("cell"), Seq(col("n").desc, col("token").asc), k)
      .select("cell", "rnk", "token", "n")
  }

  /** Token / lexical statistics: whitespace tokens plus the BPE-ish
    * regex subword count. */
  def tokenStats(df: DataFrame, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    df
      .withColumn("n_tokens", size(t))
      .withColumn("n_subword_tokens",
        size(regexp_extract_all(col(textCol), lit(subwordPattern), lit(0))))
      .withColumn("n_distinct_tokens", size(array_distinct(t)))
      .withColumn("type_token_ratio", r4(size(array_distinct(t)) / size(t).cast("double")))
      .withColumn("avg_token_len",
        r4((length(col(textCol)) - (size(t) - 1)) / size(t).cast("double")))
  }

  /** Stopword-profile language ID: count stopword hits per language,
    * pick the argmax with a fixed priority order on ties (the order of
    * [[stopwords]]). 'und' (undetermined) when nothing matches. All
    * five counts come from one native `stopword_hits` pass per row
    * ([[hits]]), and [[argmaxLang]] reads each of them once.
    */
  def languageId(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("lang_pred", langPred(col(textCol)))
      .withColumn("stopword_hits", stopwords.indices.map(hits(col(textCol), _)).reduce(_ + _))

  private def langPred(text: Column): Column =
    argmaxLang(stopwords.zipWithIndex.map { case ((lang, _), i) => lang -> hits(text, i) })

  /** The language with the most hits, the first in `hits` order on a
    * tie, 'und' when no count is positive: the max of (hits, -priority,
    * lang) structs plus the sentinel (0, 1, 'und'), which outranks every
    * zero or null count and no positive one. Each count is referenced
    * once; the when-fold it replaces (first language whose count is
    * positive and at least every later one's) repeated every count
    * O(L²) times. Equal to that fold on every hit vector (tested). */
  private[graft] def argmaxLang(hits: Seq[(String, Column)]): Column = {
    def entry(h: Column, p: Int, lang: String) =
      struct(h.as("hits"), lit(p).as("p"), lit(lang).as("lang"))
    val entries = hits.zipWithIndex.map { case ((lang, h), i) => entry(h, -i, lang) }
    array_max(array(entries :+ entry(lit(0), 1, "und"): _*)).getField("lang")
  }

  /** Language-ID confusion matrix: predicted vs labeled language with
    * per-label row fractions — the accuracy readout that turns
    * [[languageId]] from a heuristic into a MEASURED classifier (the
    * same measure-don't-guess discipline as the recall/nDCG
    * harnesses). One partial-aggregable count shuffle to the
    * |langs|² dimension; the row total re-enters as a window over
    * that dimension. */
  def langConfusion(docs: DataFrame, labelCol: String,
                    textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    languageId(docs, textCol)
      .groupBy(col(labelCol).as("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_lang", sum(col("n")).over(Window.partitionBy("lang")))
      .select(col("lang"), col("lang_pred"), col("n"),
        r4(col("n").cast("double") / col("n_lang")).as("frac_of_lang"))
  }

  /** Composite quality score in [0,1]: length saturation, lexical
    * diversity, stopword presence — the standard cheap pre-filter
    * before expensive dedup/embedding stages. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("quality_score", quality(col(textCol)))

  private def quality(text: Column): Column = {
    val t = tokens(text)
    val n = size(t).cast("double")
    val diversity = size(array_distinct(t)) / n
    val stop = hits(text, stopwords.size) / n
    r4(least(n / 100, lit(1.0)) * 0.4 + diversity * 0.3 + least(stop * 5, lit(1.0)) * 0.3)
  }

  /** The signals the corpus gate reads, appended to `docs`: `n_tokens`
    * ([[tokenStats]]), `lang_pred` ([[languageId]]) and
    * `quality_score` ([[qualityScore]]). One narrow codegen'd
    * projection, no shuffle; it splits and profiles each row once. */
  def corpusSignals(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.withColumn("n_tokens", size(tokens(t)))
      .withColumn("lang_pred", langPred(t))
      .withColumn("quality_score", quality(t))
  }

  /** The keep/drop decision a corpus pipeline publishes after the
    * cheap signal pass, as a Column over [[corpusSignals]]' columns:
    * too-short, predicted-language mismatch, and low composite quality,
    * in that priority order (the FIRST failing gate names the drop
    * reason, the convention that makes funnel accounting of a cleaning
    * pipeline additive); "kept" when every gate passes. */
  def dropReason(langCol: String, minTokens: Int = 10, minQuality: Double = 0.5): Column =
    when(col("n_tokens") < minTokens, "too_short")
      .when(col("lang_pred") =!= col(langCol), "lang_mismatch")
      .when(col("quality_score") < minQuality, "low_quality")
      .otherwise("kept")

  /** The gate's verdict per document: [[dropReason]] over
    * [[corpusSignals]], with the signals it read. */
  def corpusFilter(docs: DataFrame, idCol: String, textCol: String,
                   langCol: String, minTokens: Int = 10,
                   minQuality: Double = 0.5): DataFrame =
    corpusSignals(docs, textCol)
      .select(col(idCol), col(langCol), col("lang_pred"),
        col("n_tokens"), col("quality_score"))
      .withColumn("drop_reason", dropReason(langCol, minTokens, minQuality))
      .withColumn("keep", col("drop_reason") === "kept")

  /** Shingle-hash fingerprint: min over word-3-gram hash60s — one long
    * per document (a 1-permutation MinHash; equal fingerprints ⇒ likely
    * near-duplicates). Null for texts shorter than `n` words. */
  def fingerprint(df: DataFrame, textCol: String, n: Int = 3): DataFrame =
    df.withColumn("fingerprint",
      array_min(transform(wordShingles(col(textCol), n), s => hash60(s))))

  /** Gopher-style repetition signals: the fraction of all word
    * bigrams taken by the single most frequent one, plus totals — the
    * standard cheap detector for degenerate boilerplate ("click here
    * click here …") that survives token-level stats. Two
    * partial-aggregable shuffles on (doc, bigram-hash) then (doc);
    * bigrams travel as 60-bit hashes, never strings. Ties need no
    * break: only the max COUNT matters. Docs under 2 words emit no
    * bigrams and are dropped (nothing to measure). */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // raw (non-distinct) bigrams — Funcs.wordShingles dedups, which is
    // exactly what a repetition detector must NOT do
    val words = split(col(textCol), " ")
    val bigrams = when(size(words) >= 2,
      transform(sequence(lit(1), size(words) - 1),
        i => concat_ws(" ", slice(words, i, lit(2))))).otherwise(array())
    // spread before the interpreted bigram lambda (same rationale as
    // Dedup.spreadById: one parquet row group = one task otherwise)
    val big = Dedup.spreadById(df, idCol, textCol)
      .select(col(idCol), explode(bigrams).as("bg"))
      .select(col(idCol), hash60(col("bg")).as("bh"))
      .groupBy(col(idCol), col("bh")).agg(count(lit(1)).as("c"))
    big.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_bigrams"),
        max(col("c")).as("top_bigram_count"))
      .select(col(idCol), col("n_bigrams"), col("top_bigram_count"),
        r4(col("top_bigram_count") / col("n_bigrams").cast("double"))
          .as("top_bigram_frac"))
  }

  /** PII-ish surface signals: email/URL pattern counts and the digit
    * character fraction — the cheap pre-redaction triage pass. The
    * regexes stay in the RE2-compatible subset (no backrefs, no
    * lookaround) so the DuckDB oracle runs the SAME patterns. Pure
    * narrow map, codegen'd regexp/length expressions. */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val urlPattern = "https?://[^ ]+"

  def piiSignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df
      .withColumn("email_count", regexp_count(t, lit(emailPattern)).cast("long"))
      .withColumn("url_count", regexp_count(t, lit(urlPattern)).cast("long"))
      .withColumn("digit_frac",
        r4(length(regexp_replace(t, "[^0-9]", "")) /
          nullifZero(length(t)).cast("double")))
  }

  /** Cross-document duplicated-n-gram fraction: for each document, the
    * share of its DISTINCT word n-grams that appear in at least one
    * OTHER document — the inter-document companion to
    * [[repetitionSignals]] (which is within-doc) and the standard
    * boilerplate/template detector in web-corpus pipelines: navigation
    * chrome, license headers and mirrored passages score high long
    * before full-document dedup would fire.
    *
    * Plan shape: shingle hashes (computed once, 60-bit longs) →
    * document-frequency count → join back → per-doc aggregate. Both
    * aggregations partial-aggregate map-side; the join key is a
    * 3-gram hash, whose frequency distribution is far flatter than
    * unigrams', so no Zipf-head handling is needed (contrast
    * [[tokenRarity]]). A doc counts as "sharing" an n-gram with itself
    * never: df ≥ 2 means at least one other doc (per-doc shingles are
    * distinct by construction). */
  def crossDocDupNgrams(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3): DataFrame = {
    val ex = Dedup.shingleHashes(Dedup.shingledDocs(df, idCol, textCol, n), idCol)
    val docFreq = ex.groupBy("sh").agg(count(lit(1)).as("df"))
    ex.join(docFreq, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("df") >= 2, lit(1L)).otherwise(lit(0L))).as("dup_ngrams"))
      .select(col(idCol), col("n_ngrams"), col("dup_ngrams"),
        r4(col("dup_ngrams") / col("n_ngrams").cast("double")).as("dup_frac"))
  }

  /** Exact heavy-hitter vocabulary: the top-k tokens by document
    * frequency (vocab mining / stopword discovery over a new corpus).
    * Two partial-aggregable shuffles — distinct (doc, token), then
    * count per token — and a TakeOrderedAndProject top-k, so no full
    * sort and no skew exposure: a stopword's rows combine map-side in
    * both aggregates. The (doc_freq desc, token asc) tie-break makes
    * the cut deterministic. The rank window runs over k rows only. */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("doc_freq").desc, col("token").asc)
    Dedup.spreadById(df, idCol, textCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .distinct()
      .groupBy("token").agg(count(lit(1)).as("doc_freq"))
      .orderBy(order: _*)
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)))
  }

  /** BM25 retrieval scoring (Robertson/Spärck Jones, the Okapi form) —
    * the ranking function behind every practical keyword-search stack,
    * and the upgrade of [[tfidfTopK]]'s raw tf·idf: term frequency
    * saturates (k1) and is normalized by document length (b), so a
    * 10k-token doc can't win on volume alone.
    *
    * Exact-arithmetic discipline (same contract as [[tokenRarity]]):
    * no log() — the probabilistic idf RATIO (n_docs - df + 0.5) /
    * (df + 0.5) keeps the same PER-TERM ordering as log(ratio) and
    * stays a single IEEE division; idf and the tf-saturation factor
    * are floor-scaled to longs (1e6 / 1e4) so the per-doc score is an
    * EXACT integer sum — bit-portable across engines, no
    * order-dependent double accumulation. Caveat: summing ratio-scaled
    * weights ACROSS terms reweights terms relative to Okapi BM25 (the
    * ratio grows much faster than its log), so multi-term rankings are
    * an approximation of BM25, not order-identical to it.
    *
    * Scale shape: tf is a partial-aggregable grouped count over ONLY
    * rows matching the query terms (the explode filters before any
    * shuffle); corpus stats (n_docs, total token count → avgdl) are a
    * single partial agg collapsing to one broadcast row; df derives
    * from tf (|terms| rows, broadcast). Doc length rides along with
    * tf via a first-agg max — no second scan, no join back to the
    * corpus. Final top-k is a TakeOrdered. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = tokens(col(textCol))
    val ex = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), size(toks).cast("long").as("dl"),
        explode(toks).as("t"))
      .filter(col("t").isInCollection(terms))
    // dl is functionally dependent on the doc id; max() carries it
    // through the count without widening the grouping key
    val tf = ex.groupBy(col(idCol), col("t"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val stats = docs.select(count(lit(1)).as("n_docs"),
      sum(size(tokens(col(textCol))).cast("long")).as("sum_dl"))
    // avgdl: one long/long IEEE division — deterministic everywhere
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idfS = floor(lit(1000000.0)
      * ((col("n_docs") - col("df")).cast("double") + lit(0.5))
      / (col("df").cast("double") + lit(0.5))).cast("long")
    val tfS = floor(lit(10000.0) * (col("tf").cast("double") * lit(k1 + 1.0))
      / (col("tf").cast("double")
        + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))))
      .cast("long")
    tf.join(broadcast(dfreq), "t")
      .crossJoin(broadcast(stats.select(avgdl.as("avgdl"), col("n_docs"))))
      .withColumn("w", idfS * tfS)
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_query_terms"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Hash-trick linear-classifier inference ("hashing vectorizer" —
    * Weinberger et al., ICML'09): score every document against a
    * linear model whose weight for a token is addressed by hashing
    * the token into a fixed-size weight space, so the model needs no
    * vocabulary table and inference is a pure narrow scan. This is
    * the shape of every fastText-style quality/topic filter applied
    * to a pretraining corpus: at 100 TB the entire pass is map-side —
    * ZERO shuffles until the final per-doc row, no weight-table join,
    * nothing driver-side.
    *
    * The weights here are the deterministic stand-in `(hash60(tok) %
    * modulus) - modulus/2` — the container ships no trained model, but
    * the score is exactly what a real exported model produces once
    * `weightOf` maps hash-bucket → learned weight (a broadcast lookup
    * array at worst). Integer weights ⇒ the per-doc sum is exact. */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        modulus: Int = 2001): DataFrame = {
    val half = lit((modulus - 1) / 2)
    val w = (hash60(col("t")) % lit(modulus.toLong)) - half
    Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .groupBy(col(idCol))
      .agg(sum(w).as("score"), count(lit(1)).as("n_tokens"))
      .withColumn("keep", (col("score") > lit(0L)).cast("boolean"))
  }

  /** Bigram language-model commonness: score each document by the mean
    * CORPUS frequency of its adjacent token bigrams — the
    * no-transcendentals stand-in for bigram log-likelihood / perplexity
    * filtering (fluent text reuses common transitions; gibberish and
    * boilerplate-free word salad sit in rare ones). Same ordering
    * intent as perplexity without log(): exact long sums, one final
    * scaled division.
    *
    * Scale shape: bigram extraction is a narrow zip_with against the
    * token array's own shift (no self-join); the corpus count is one
    * partial-aggregable shuffle (Zipfian bigram head combines
    * map-side); scoring joins each doc's bigrams back to the count
    * table — tail-bounded per key — and reduces per doc. */
  def bigramCommonness(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    // when the shifted side runs out zip_with pads with null; the
    // `when` keeps the pad null (concat_ws would swallow it and emit a
    // bogus trailing unigram) and the filter below drops it
    val bigrams = zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => when(b.isNotNull, concat_ws(" ", a, b)))
    val ex = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), explode(bigrams).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col(idCol), hash60(col("bg")).as("bh"))
    val counts = ex.groupBy("bh").agg(count(lit(1)).as("c"))
    ex.join(counts, "bh")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("sum_c"), count(lit(1)).as("n_bigrams"))
      .withColumn("mean_scaled",
        floor(lit(10000.0) * col("sum_c").cast("double")
          / col("n_bigrams").cast("double")).cast("long"))
  }

  /** Token co-occurrence lift over the top-`vocabK` vocabulary:
    * lift(x,y) = P(x,y) / (P(x)·P(y)) as the exact ratio
    * (c_xy · n_docs) / (c_x · c_y) — PMI without the log, same
    * ordering. The collocation-mining primitive (phrase detection,
    * topic seeds) over a pretraining corpus.
    *
    * Scale shape: the quadratic blowup of "all token pairs" is fenced
    * by restricting to a BOUNDED vocabulary first — top-k by document
    * frequency ([[vocabTopK]] semantics), broadcast into a map-side
    * semi join — so the per-doc self-join is ≤ vocabK² and the
    * pair-count shuffle carries only vocab-pair keys. Lift is
    * floor-scaled after one IEEE division: exact and portable. */
  def cooccurrenceLift(docs: DataFrame, idCol: String, textCol: String,
                       vocabK: Int = 12, minPairDocs: Long = 2L): DataFrame = {
    val vocab = vocabTopK(docs, idCol, textCol, vocabK).select("token", "doc_freq")
    val ex = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .distinct()
      .join(broadcast(vocab), "token")
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val pairs = ex.select(col(idCol), col("token").as("t1"), col("doc_freq").as("df1"))
      .join(ex.select(col(idCol), col("token").as("t2"), col("doc_freq").as("df2")), Seq(idCol.toString))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2")
      .agg(count(lit(1)).as("c_xy"), max("df1").as("c_x"), max("df2").as("c_y"))
      .filter(col("c_xy") >= lit(minPairDocs))
    pairs.crossJoin(broadcast(nDocs))
      .withColumn("lift_scaled",
        floor(lit(1000000.0) * (col("c_xy") * col("n_docs")).cast("double")
          / (col("c_x") * col("c_y")).cast("double")).cast("long"))
      .select(col("t1"), col("t2"), col("c_xy"), col("lift_scaled"))
  }

  /** PMI collocations (Church & Hanks, CL 1990): the top ADJACENT
    * bigram associations, pmi = ln p(ab) − ln p(a) − ln p(b), over
    * exact corpus counts — the phrase-mining screen ("new york",
    * "machine learning") that [[cooccurrenceLift]]'s document-level
    * windows can't see. Bigrams come from one `zip_with` over each
    * token array (no self-join, no explode-cross); unigram and bigram
    * probabilities use their own exact totals (N_bi = N_uni − N_docs
    * by construction — both measured, not assumed). The final ln tree
    * is fixed-order over exact longs, rounded rd(4), and ranking
    * follows the [[chi2Features]] discipline: per-partition top-k
    * before the single-task global rank, bit-identical result. */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5L, k: Int = 50): DataFrame = {
    val toks = Dedup.spreadById(docs, idCol, textCol)
      .select(tokens(col(textCol)).as("ts"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .snapshot() // two unigram join legs + the total
    val biAll = toks
      .select(explode(expr(
        """zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),
          |         slice(ts, 2, greatest(size(ts) - 1, 0)),
          |         (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      .snapshot() // the minCount-filtered scoring pass + the total
    val nBi = biAll.agg(sum(col("cab")).as("n_bi"))
    val nUni = uni.agg(sum(col("cw")).as("n_uni"))
    val scored = biAll.filter(col("cab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni))
      .withColumn("pmi", rd(
        log(col("cab").cast("double") / col("n_bi").cast("double")) -
        log(col("c1").cast("double") / col("n_uni").cast("double")) -
        log(col("c2").cast("double") / col("n_uni").cast("double")), 4))
    val localTop = scored
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lr", row_number().over(Window.partitionBy("__pid")
        .orderBy(col("pmi").desc, col("w1"), col("w2"))))
      .filter(col("__lr") <= k)
      .drop("__pid", "__lr")
    localTop
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("w1"), col("w2"))))
      .filter(col("rank") <= k)
      .select(col("rank"), col("w1"), col("w2"),
        col("cab").as("n_pair"), col("pmi"))
  }

  /** Corpus-level boilerplate stripping: remove from every document
    * the word n-grams that repeat across ≥ `minDocs` DISTINCT
    * documents (navigation chrome, license headers, templated
    * snippets — the CCNet/RefinedWeb shared-span removal step), and
    * reassemble the surviving tokens in order.
    *
    * Relational shape (no per-doc imperative pass): positional
    * shingles explode with their start index; hot shingles are a
    * grouped distinct-doc count; each hot hit expands to its n covered
    * token positions (explode of a bounded n-element sequence); and
    * the kept tokens are a LEFT ANTI equi join on (doc, position) —
    * every join is an equi join on bounded keys, so the plan is three
    * partial-aggregable shuffles regardless of corpus size. Hot-hit
    * expansion is O(hits·n), not O(corpus). Reassembly is an ordered
    * string agg per doc (array_join over sort_array — deterministic). */
  def stripHotShingles(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minDocs: Long = 3L): DataFrame = {
    val toks = tokens(col(textCol))
    // (doc, pos, token) grain — pos is 0-based
    val ex = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), posexplode(toks).as(Seq("pos", "tok")))
    // positional shingles: start index + hashed n-gram
    val sh = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), posexplode(
        when(size(toks) >= n,
          transform(sequence(lit(1), size(toks) - lit(n - 1)),
            i => hash60(concat_ws(" ", slice(toks, i, lit(n))))))
          .otherwise(array())).as(Seq("start", "sh")))
    val hot = sh.select(col(idCol), col("sh")).distinct()
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= lit(minDocs))
      .select("sh")
    // `start` is the 0-based ARRAY index from posexplode; the shingle
    // at array index j covers 0-based token positions j..j+n-1
    val covered = sh.join(hot, "sh")
      .select(col(idCol), explode(sequence(col("start"), col("start") + lit(n - 1))).as("pos"))
      .distinct()
    val kept = ex.join(covered, Seq(idCol.toString, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(array_sort(collect_list(struct(col("pos"), col("tok")))).getField("tok"), " ")
          .as("clean_text"))
    // docs whose every token was covered must still appear (empty text)
    docs.select(col(idCol), size(toks).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol.toString), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** N-gram language-model count tables — the distributed-counting
    * core of training a Kneser-Ney smoothed LM over a corpus (the
    * classic data-side prerequisite for perplexity filtering): per
    * token, the unigram count, the number of DISTINCT successors
    * (N₁₊(w,•), the KN backoff-weight numerator), the number of
    * DISTINCT predecessors (N₁₊(•,w), the KN continuation-probability
    * numerator), and the continuation probability itself scaled to an
    * exact long (⌊10⁶ · N₁₊(•,w) / bigram-type-count⌋ — one IEEE
    * division, bit-portable, no log()).
    *
    * Scale shape: bigram extraction is the same narrow self-shift
    * zip_with as [[bigramCommonness]] (no self-join); every aggregate
    * is a partial-aggregable grouped count (the Zipfian head combines
    * map-side); the bigram-type total is one broadcast scalar. Tokens
    * stay strings here — the output IS the vocabulary table, and
    * vocabulary cardinality (≤ millions) is far below corpus
    * cardinality, so the string key costs nothing at 100 TB. */
  def ngramLmCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val bigrams = zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => when(b.isNotNull, struct(a.as("w1"), b.as("w2"))))
    val spread = Dedup.spreadById(docs, idCol, textCol)
    val uni = spread.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c_uni"))
    val bg = spread.select(explode(bigrams).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .snapshot() // feeds succ, pred AND the type total
    val succ = bg.groupBy("w1").agg(count(lit(1)).as("n_succ"))
    val pred = bg.groupBy("w2").agg(count(lit(1)).as("n_pred"))
    val types = bg.select(count(lit(1)).as("n_bigram_types"))
    uni
      .join(succ.withColumnRenamed("w1", "token"), Seq("token"), "left")
      .join(pred.withColumnRenamed("w2", "token"), Seq("token"), "left")
      .crossJoin(broadcast(types))
      .select(col("token"), col("c_uni"),
        coalesce(col("n_succ"), lit(0L)).as("n_succ"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        floor(lit(1000000.0) * coalesce(col("n_pred"), lit(0L)).cast("double")
          / col("n_bigram_types").cast("double")).cast("long").as("kn_cont_scaled"))
  }

  /** Vocabulary coverage / OOV rate per document against the corpus's
    * own top-`vocabK` vocabulary — the tokenizer-fit diagnostic run
    * before committing a vocab (or a filter against vocab-mismatched
    * sources): documents whose tokens fall outside the head vocabulary
    * are either another language, another domain, or noise.
    *
    * Scale shape: the vocabulary is [[vocabTopK]] (two partial-agg
    * shuffles, k rows) broadcast into a map-side LEFT join against the
    * exploded corpus — the per-doc rollup is then one
    * partial-aggregable shuffle on doc id. OOV fraction is
    * floor-scaled after one division: exact, oracle-checkable. */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    vocabK: Int = 64): DataFrame = {
    val vocab = vocabTopK(docs, idCol, textCol, vocabK)
      .select(col("token"), lit(1L).as("__v"))
    Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__v"), lit(0L))).as("n_in_vocab"))
      .select(col(idCol), col("n_tokens"), col("n_in_vocab"),
        floor(lit(10000.0) * (col("n_tokens") - col("n_in_vocab")).cast("double")
          / col("n_tokens").cast("double")).cast("long").as("oov_scaled"))
  }

  /** Heaps'-law vocabulary-growth curve (Heaps 1978): distinct
    * vocabulary size at nested corpus prefixes (25/50/75/100% of docs
    * in doc-id order) beside the token totals — the measurement
    * behind "how much NEW vocabulary does more data buy", which
    * decides tokenizer retraining and vocab-size budgets. Counts are
    * exact (distinct token strings, integer prefix cut (n·p) DIV
    * 100); the β exponent fit is left to the consumer (log-free
    * house rule).
    *
    * Scale shape (r18): the doc rank runs on [[Profiling.globalRank]] —
    * a doc-id frame past the pin dial, or of unmeasured size, is never
    * funneled through one WindowExec task (rank values are identical
    * on both branches) — then joins onto one exploded token pass that
    * feeds every prefix's aggregate from a single snapshot — |pcts|
    * aggregates, one scan. */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
               pcts: Seq[Int] = Seq(25, 50, 75, 100)): DataFrame = {
    // one exploded pass (the rank's snapshotted result) feeds every
    // prefix aggregate
    val exr = Profiling.globalRank(docs.select(col(idCol).as("id")),
      Seq(col("id")), "rn", "nd") { ranked =>
      Dedup.spreadById(docs, idCol, textCol)
        .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
        .join(ranked, "id")
    }
    pcts.map { p =>
      val k = greatest(expr(s"(nd * $p) DIV 100"), lit(1L))
      exr.agg(
        max(k).as("n_docs"),
        sum(when(col("rn") <= k, 1L).otherwise(0L)).as("n_tokens"),
        countDistinct(when(col("rn") <= k, col("t"))).as("vocab"))
        .select(lit(p).as("pct"), col("n_docs"), col("n_tokens"), col("vocab"))
    }.reduce(_ unionByName _)
  }

  /** Good-Turing frequency-of-frequencies + Chao1 vocabulary-richness
    * estimate over the corpus unigram distribution (Good, Biometrika
    * 1953; Chao, Scand. J. Statistics 1984): N₁ (singletons) and N₂
    * (doubletons) summarize the distribution's unseen tail —
    * p₀ = N₁/N is the Good-Turing probability mass of tokens the
    * corpus has NEVER seen (what more data will spend its tokens on),
    * c*₁ = 2N₂/N₁ the smoothed true count of a once-seen token, and
    * Chao1 V̂ = V + N₁(N₁−1)/(2(N₂+1)) the bias-corrected estimate of
    * the TOTAL vocabulary including unseen types — the measurements
    * behind "is this corpus big enough for this tokenizer", beside
    * [[heapsLaw]]'s empirical growth curve ([[zipfFit]] gives the
    * same tail a slope). All five inputs are exact integer aggregates;
    * the three estimates are fixed double trees.
    *
    * Scale shape: one exploded token pass into a partial-aggregable
    * vocabulary rollup (the [[heapsLaw]] shuffle), then a 1-row
    * reduction over the count-of-counts — no windows, no sort,
    * memory independent of vocabulary size. */
  def goodTuring(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = Dedup.spreadById(docs, idCol, textCol)
      .select(explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("c"))
    counts.agg(
      sum(col("c")).as("n"),
      count(lit(1)).as("v"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(
        col("n").cast("long").as("n_tokens"),
        col("v").cast("long").as("vocab"),
        col("n1").cast("long").as("n1_singletons"),
        col("n2").cast("long").as("n2_doubletons"),
        rd(col("n1").cast("double") /
          nullifZero(col("n").cast("double")), 6).as("p0_unseen"),
        rd(lit(2.0) * col("n2").cast("double") /
          nullifZero(col("n1").cast("double")), 6).as("gt_singleton_count"),
        rd(col("v").cast("double") +
          col("n1").cast("double") * (col("n1").cast("double") - lit(1.0)) /
            (lit(2.0) * (col("n2").cast("double") + lit(1.0))), 4)
          .as("chao1_vocab"))
  }

  /** Juilland's D dispersion coefficient for the top-k corpus tokens
    * (Juilland & Chang-Rodríguez, *Frequency Dictionary of Spanish
    * Words* 1964; Gries, "Dispersions and adjusted frequencies in
    * corpora" 2008 is the modern survey): how EVENLY a token's
    * occurrences spread across the corpus parts (here: sources) —
    * D = 1 − CV/√(m−1) over the per-part counts, zeros included,
    * where CV is the population coefficient of variation and m the
    * part count. D → 1 means the token appears uniformly everywhere
    * (a function word, safe to downweight); D → 0 means it is
    * bursty/source-local (a topical or boilerplate marker — raw
    * frequency overstates its importance, the corpus-curation signal
    * beside [[TextAnalysis.repetitionSignals]]). Requires m ≥ 2.
    *
    * Exactness: per-(token, source) counts are exact longs; Σf and
    * Σf² (DECIMAL/HUGEINT) are exact, so CV is one fixed double tree
    * with zeros entering only through m. Scale shape: one exploded
    * token pass into a (token, source) rollup, one token rollup, a
    * 1-row broadcast of m, then the house partition-local top-k
    * (orderBy+limit → TakeOrderedAndProject, bounded driver merge). */
  def tokenDispersion(docs: DataFrame, idCol: String, textCol: String,
                      sourceCol: String, topK: Int = 50): DataFrame = {
    require(topK >= 1, "tokenDispersion: topK must be positive")
    val mf = docs.agg(countDistinct(col(sourceCol)).cast("long").as("m"))
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val cells = docs
      .select(col(idCol), col(sourceCol).as("source"), col(textCol))
      .repartition(parts, col(idCol)) // spreadById, keeping the source column
      .select(col("source"), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t", "source").agg(count(lit(1)).as("f"))
    val g = cells.groupBy("t")
      .agg(sum(col("f")).as("ft"), sum(dec38(col("f")) * col("f")).as("qt"),
        count(lit(1)).as("ns"))
      .crossJoin(broadcast(mf))
    val mean = col("ft").cast("double") / col("m").cast("double")
    val varp = greatest(
      col("qt").cast("double") / col("m").cast("double") - mean * mean,
      lit(0.0))
    g.orderBy(col("ft").desc, col("t")).limit(topK)
      .select(col("t").as("token"), col("ft").cast("long").as("n_occ"),
        col("ns").cast("long").as("n_sources"),
        rd(lit(1.0) - sqrt(varp) / mean /
          sqrt(col("m").cast("double") - lit(1.0)), 6).as("juilland_d"))
  }

  /** Per-token tail of the truncated rank-biased-overlap sum,
    * S(m) = Σ_{i=m..d} q^{i−1}/i: a token whose WORSE rank across the
    * two lists is m contributes exactly S(m) to Σᵢ q^{i−1}·|A_i∩B_i|/i
    * (it sits in every prefix intersection from depth m on). Computed
    * once in Scala so both engines read the SAME double literals. */
  def rboPartialSums(depth: Int, q: Double): Seq[Double] = {
    val s = new Array[Double](depth + 2)
    for (m <- depth to 1 by -1) s(m) = s(m + 1) + math.pow(q, m - 1) / m
    (1 to depth).map(s(_)).toSeq
  }

  /** Truncated rank-biased overlap between the top-`depth` token lists
    * of the two doc-id-parity corpus halves (Webber, Moffat & Zobel,
    * "A similarity measure for indefinite rankings", TOIS 2010) — the
    * drift gauge for RANKINGS that set-based drift misses: two corpus
    * snapshots can share 100% of their top-k vocabulary while the
    * ORDER reshuffles completely (a distribution shift a frequency
    * cut cares about). RBO@d = Σ_{i=1..d} q^{i−1}·|A_i∩B_i|/i
    * normalized by Σ q^{i−1} ∈ [0,1]; the top-weighted geometric
    * decay (persistence q) makes rank-1 churn cost more than rank-50
    * churn. Ranks are (count DESC, token) row_numbers — the
    * [[pmiCollocations]] total-order convention.
    *
    * Contract: this is the TRUNCATED form scored against a
    * full-depth ideal — identical rankings of length ≥ `depth` score
    * exactly 1; lists that exhaust before `depth` are penalized for
    * the missing tail (prefix intersections stop growing), so pick
    * `depth` ≤ the expected vocabulary size when "identical ⇒ 1"
    * matters (Webber's RBO_EXT extrapolation is the alternative;
    * truncation keeps the sum exact).
    *
    * Exactness: every token's contribution is a lookup into the
    * Scala-computed [[rboPartialSums]] literal array (identical bits
    * in both engines), quantized to a scale-12 long so the sum is
    * order-free; RBO is one fixed double tree. Scale shape: two
    * vocabulary rollups, each topped with the house partition-local
    * pre-top before the ≤(parts·d)-row global rank window, then a
    * d-bounded join and a 1-row reduction. */
  def rboDrift(docs: DataFrame, idCol: String, textCol: String,
               depth: Int = 50, q: Double = 0.9): DataFrame = {
    require(depth >= 1 && q > 0 && q < 1, "rboDrift: depth >= 1, q in (0,1)")
    val s = rboPartialSums(depth, q)
    val sLit = array(s.map(lit): _*)
    val norm = (1 to depth).map(i => math.pow(q, i - 1)).sum
    def ranked(parity: Int) = {
      val c = Dedup.spreadById(docs.filter(col(idCol) % 2 === parity),
          idCol, textCol)
        .select(explode(tokens(col(textCol))).as("t"))
        .filter(col("t") =!= "")
        .groupBy("t").agg(count(lit(1)).as("c"))
      c.withColumn("pr", row_number().over(Window
          .partitionBy(spark_partition_id())
          .orderBy(col("c").desc, col("t"))))
        .filter(col("pr") <= depth) // partition-local pre-top
        .withColumn("r", row_number().over(
          Window.orderBy(col("c").desc, col("t"))).cast("long"))
        .filter(col("r") <= depth)
        .select(col("t"), col("r"))
    }
    ranked(0).withColumnRenamed("r", "ra")
      .join(ranked(1).withColumnRenamed("r", "rb"), "t")
      .select(greatest(col("ra"), col("rb")).as("m"))
      .select(scaled(element_at(sLit, col("m").cast("int")), 12).as("s12"))
      .agg(count(lit(1)).as("n_common"), sum(col("s12")).as("ss"))
      .select(lit(depth.toLong).as("depth"),
        col("n_common").cast("long").as("n_common"),
        rd(col("ss").cast("double") / 1e12 / lit(norm), 6).as("rbo"))
  }

  /** The default RAKE stopword/delimiter set — the boundary tokens
    * phrases break on. Embedded as the same literal list in the
    * DuckDB oracle. */
  val rakeStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for", "with")

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are
    * maximal token runs between stopwords, each word is scored
    * degree/freq WITHIN its document (degree = Σ lengths of the
    * phrases containing it, freq = occurrence count), and a phrase
    * scores the sum of its member words' scores. Top-k distinct
    * phrases per doc.
    *
    * Determinism: word scores are floor-scaled to exact 6-dp LONGS
    * before the phrase sum, so the phrase score is an ORDER-FREE
    * integer sum (cross-engine double summation order never enters);
    * ranking runs on (score6 DESC, phrase ASC).
    *
    * Scale shape: everything is per-document — the phrase window, the
    * (doc, word) aggregate, and the phrase-score aggregate all
    * partition by doc id, so the whole operator is three
    * partial-aggregable shuffles on doc-grain keys with no corpus-wide
    * state; the stopword membership test is a plan-time array literal
    * inside the scan stage. */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String] = rakeStopwords,
                   k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopLit = array(stopwords.map(lit): _*)
    val words = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "word")))
      .withColumn("is_stop",
        array_contains(stopLit, col("word")) || col("word") === "")
    val phrased = words
      .withColumn("phrase_id",
        sum(when(col("is_stop"), 1L).otherwise(0L))
          .over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(!col("is_stop"))
      .select("doc_id", "phrase_id", "pos", "word")
      .snapshot() // feeds phrase texts, word stats AND the score join
    // snapshotted: consumed TWICE (the word-score degree join and the
    // final phrase-text join) — without materialization each consumer
    // re-runs the phrase-assembly aggregate over the checkpointed
    // word frame (measured r18: a duplicated ~7-15 taskSec 32-task
    // stage per run; guide §2.4/§3.3, materialize the branch point)
    val phrases = phrased.groupBy("doc_id", "phrase_id")
      .agg(count(lit(1)).as("phrase_len"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word")), " ").as("phrase"))
      .snapshot()
    val wordScores = phrased
      .join(phrases.select(col("doc_id"), col("phrase_id"), col("phrase_len")),
        Seq("doc_id", "phrase_id"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("freq"), sum(col("phrase_len")).as("degree"))
      .select(col("doc_id"), col("word"),
        scaled(col("degree") / col("freq"), 6).as("w6"))
    val scored = phrased
      .join(wordScores, Seq("doc_id", "word"))
      .groupBy("doc_id", "phrase_id").agg(sum(col("w6")).as("score6"))
      .join(phrases, Seq("doc_id", "phrase_id"))
      // identical phrase texts in one doc tie exactly (same member
      // words => same per-doc word scores): keep one row per text
      .groupBy("doc_id", "phrase")
      .agg(max(col("score6")).as("score6"), max(col("phrase_len")).as("n_words"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score6").desc, col("phrase").asc)))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("phrase"), col("n_words"),
        rd(col("score6") / 1000000.0, 4).as("score"))
  }

  /** Zipf rank–frequency fit per language: least-squares slope of
    * ln(freq) on ln(rank) over each language's top-`topR` tokens —
    * natural text runs slope ≈ −1 (Zipf's law); a corpus slice that
    * deviates hard (template spam: too flat; boilerplate dedup
    * residue: too steep) is a curation smell, which makes the slope a
    * cheap corpus-quality screen next to [[heapsLaw]]'s vocabulary
    * growth. Exactness: ln(rank) and ln(freq) round through
    * scaled(·, 6) to exact longs BEFORE the five regression sums, so
    * the normal-equation numerators/denominators are order-free
    * integers; the two final divisions are fixed double trees
    * rounded rd(4). Shape: one token-grain grouped count (Zipfian
    * keys absorbed by partial aggregation), one per-lang rank window
    * over ≤ topR survivors, one tiny rollup. */
  def zipfFit(docs: DataFrame, langCol: String, textCol: String,
              topR: Int = 100): DataFrame = {
    val freq = docs
      .select(col(langCol).as("lang"), explode(tokens(col(textCol))).as("t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("freq"))
    val ranked = freq
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("freq").desc, col("t").asc)))
      .filter(col("rnk") <= topR)
      .select(col("lang"),
        scaled(log(col("rnk").cast("double")), 6).as("x"),
        scaled(log(col("freq").cast("double")), 6).as("y"))
    ranked.groupBy("lang").agg(
        count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("n_terms"),
        rd((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullifZero((col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double")),
          4).as("slope"),
        rd((col("sy").cast("double") / 1e6 -
            ((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
              nullifZero((col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"))) *
              col("sx").cast("double") / 1e6) / col("n_terms").cast("double"),
          4).as("intercept"))
  }

  /** Per-source Jensen–Shannon divergence from the corpus-wide token
    * distribution: JS(Pₛ ‖ Q) = ½ KL(Pₛ‖M) + ½ KL(Q‖M), M = (Pₛ+Q)/2
    * — the bounded, symmetric drift score (0 = identical, 1 bit =
    * disjoint) that crawl pipelines use to rank sources by "how
    * unlike the corpus is this feed" (cf. distributionDrift's PSI on
    * numeric columns; this is its text-distribution sibling).
    * Exactness: pₛ and q are exact-integer-ratio doubles; each
    * token's pooled contribution pₛ·log₂(2pₛ/(pₛ+q)) + q·log₂(2q/
    * (pₛ+q)) rounds through scaled(·, 12) to an exact long BEFORE
    * the per-source sum (order-free); absent tokens contribute
    * exactly q (log₂ 2 = 1) via the same branch. Shape: token-grain
    * counts, one broadcast of the vocab-sized corpus distribution
    * joined source×vocab — S·V grain, partial-aggregable. */
  def jsDivergence(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("t"))
      .snapshot() // feeds group counts AND corpus counts
    val grpTotals = tok.groupBy("grp").agg(count(lit(1)).as("n_g"))
    val corpus = tok.groupBy("t").agg(count(lit(1)).as("c_q"))
      .crossJoin(broadcast(tok.agg(count(lit(1)).as("n_q"))))
    val grpCounts = tok.groupBy("grp", "t").agg(count(lit(1)).as("c_p"))
    // corpus-vocab × group grain, absent tokens kept via left join
    val full = corpus.crossJoin(broadcast(grpTotals))
      .join(grpCounts, Seq("grp", "t"), "left")
      .select(col("grp"), col("n_g"), col("n_q"), col("c_q"),
        coalesce(col("c_p"), lit(0L)).as("c_p"))
    val p = col("c_p").cast("double") / col("n_g").cast("double")
    val q = col("c_q").cast("double") / col("n_q").cast("double")
    val contrib =
      when(col("c_p") === 0L, q) // q·log2(2q/q) = q
        .otherwise(
          p * log2(lit(2.0) * p / (p + q)) + q * log2(lit(2.0) * q / (p + q)))
    full
      .withColumn("c12", scaled(contrib, 12))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(when(col("c_p") > 0L, 1L).otherwise(0L)).as("n_shared"),
        rd(sum(col("c12")).cast("double") / 2e12, 6).as("js_bits"))
  }

  /** Tokenizer fertility by language: characters per whitespace word
    * and per BPE-granularity subword ([[subwordPattern]]) — the
    * compression-rate lens tokenizer teams budget by (a language
    * whose fertility is 2× pays 2× the sequence length for the same
    * text; the metric that drives vocab-allocation decisions in
    * multilingual training). All counts are exact longs; the two
    * ratios are exact-integer divisions rounded rd(4). Shape: one
    * narrow scan + one partial-aggregable lang rollup. */
  def tokenFertility(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val subs = regexp_extract_all(lower(col(textCol)), lit(subwordPattern), lit(0))
    docs.select(col(langCol).as("lang"),
        length(col(textCol)).cast("long").as("chars"),
        size(tokens(col(textCol))).cast("long").as("words"),
        size(subs).cast("long").as("subwords"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("chars")).as("n_chars"),
        sum(col("words")).as("n_words"),
        sum(col("subwords")).as("n_subwords"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("n_words"),
        col("n_subwords"),
        rd(col("n_chars").cast("double") / nullifZero(col("n_words").cast("double")),
          4).as("chars_per_word"),
        rd(col("n_chars").cast("double") / nullifZero(col("n_subwords").cast("double")),
          4).as("chars_per_subword"))
  }

  /** Sparse TF-IDF cosine similarity join over the RARE-token
    * subspace: candidate pairs are generated only through tokens with
    * `minDf ≤ df ≤ maxDf` — the prefix-filtering insight (a stopword
    * shared by every doc says nothing and would drive the posting
    * self-join quadratic; a df-capped token's posting list yields at
    * most maxDf² pairs), the same bounded-fan-out discipline as the
    * PPJoin n-gram lane and [[graft.operators.Graph.adamicAdar]]'s
    * degree cap. Cosine is computed IN the capped subspace (stated
    * semantics, mirrored by the oracle): dot products are exact
    * integer tf sums; each doc's norm is one √ over an exact long;
    * the ratio rounds rd(4). Returns the global top-`k` non-identical
    * pairs. Complements the DENSE embedding lanes (semdedup/ANN) with
    * the lexical sparse-vector form. */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                        minDf: Int = 2, maxDf: Int = 50, k: Int = 50): DataFrame = {
    val tf = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("tf"))
      .snapshot() // df counts, norms, AND both join sides
    val rare = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
      .select(col("t"))
    val post = tf.join(rare, "t")
      .snapshot() // both sides of the posting self-join + norms
    val norms = post.groupBy("id")
      .agg(sum(col("tf") * col("tf")).as("nn"))
    val dots = post.select(col("t"), col("id").as("a"), col("tf").as("tfa"))
      .join(post.select(col("t"), col("id").as("b"), col("tf").as("tfb")), "t")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum(col("tfa") * col("tfb")).as("dot"),
        count(lit(1)).as("n_shared"))
    dots
      .join(norms.select(col("id").as("a"), col("nn").as("na")), "a")
      .join(norms.select(col("id").as("b"), col("nn").as("nb")), "b")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("n_shared"), col("dot"),
        rd(col("dot").cast("double") /
          nullifZero(sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          4).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** Reciprocal-rank fusion of N retrieval systems (Cormack, Clarke &
    * Büttcher, SIGIR 2009): each system's top-k list is re-ranked by
    * rank alone — contribution ⌊10⁹/(kRrf + rank)⌋ — and summed per
    * id, which is why RRF is THE standard hybrid-search combiner
    * (lexical + dense lists have incomparable score scales; ranks
    * always compare). Contributions round through FLOOR to exact
    * longs BEFORE the sum, so fused scores are order-free integers.
    *
    * Scale note: the ranking window is GLOBAL by design — each input
    * is already a top-k list (k·N rows total, model-sized), so the
    * single-partition sort is over dozens of rows, not the corpus;
    * the corpus-scale work happened inside each retrieval system. */
  def rrfFuse(systems: Seq[(String, DataFrame)], idCol: String,
              scoreCol: String, kRrf: Int = 60, k: Int = 20): DataFrame = {
    require(systems.nonEmpty, "rrfFuse: need at least one system")
    val ranked = systems.map { case (name, df) =>
      df.select(col(idCol).as("id"), col(scoreCol).as("sc"))
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("sc").desc, col("id"))).cast("long"))
        .select(col("id"), lit(name).as("system"), col("rnk"))
    }.reduce(_ union _)
    ranked
      .withColumn("contrib",
        floor(lit(1000000000.0) / (lit(kRrf) + col("rnk")).cast("double")).cast("long"))
      .groupBy("id")
      .agg(sum(col("contrib")).as("rrf_score"),
        count(lit(1)).as("n_systems"),
        min(col("rnk")).as("best_rank"))
      .orderBy(col("rrf_score").desc, col("id"))
      .limit(k)
  }

  /** Multinomial naive Bayes language classifier, trained and scored
    * in one relational pipeline: even doc_ids train, odd doc_ids
    * test. Per-(label, token) Laplace-smoothed log-likelihoods
    * ln((c+1)/(T_l+V)) and log-priors ln(N_l/N) round through
    * scaled(8) to exact longs AT THE MODEL GRAIN, so every per-doc
    * score is an order-free integer sum Σ k·w₈ + p₈ and the argmax /
    * margin are exact long comparisons — no float accumulation
    * anywhere past the model table. Out-of-vocabulary test tokens
    * are ignored (the standard practical variant; an inner join
    * drops them symmetrically for every label).
    *
    * Scale shape: the model is |V|·|labels| rows built by one
    * train-side count pass; scoring is a token-grain equi join
    * (shuffle on token — broadcastable when the vocab is bounded)
    * followed by a per-(doc,label) partial-aggregable sum. The
    * label dimension (not the corpus) bounds the argmax window. */
  def naiveBayesLang(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     labelCol: String = "lang"): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"), col(labelCol).as("label"),
      explode(tokens(col(textCol))).as("w"))
    val train = tok.filter(col("doc_id") % 2 === 0)
    val test = tok.filter(col("doc_id") % 2 === 1)
      .groupBy("doc_id", "label", "w").agg(count(lit(1)).as("k"))
    val cl = train.groupBy("label", "w").agg(count(lit(1)).as("c"))
    val tl = train.groupBy("label").agg(count(lit(1)).as("t"))
    val vocab = train.select("w").distinct()
    val vsz = vocab.agg(count(lit(1)).as("v"))
    // labels × |V|: the corpus-scale side stays left, the label×1
    // dimension table broadcasts — a BroadcastNestedLoop fan-out of
    // exactly |labels| rows per vocab row, never a CartesianProduct
    val model = vocab.crossJoin(broadcast(tl.crossJoin(broadcast(vsz))))
      .join(cl, Seq("label", "w"), "left")
      .select(col("label").as("cand"), col("w"),
        scaled(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("t") + col("v")).cast("double")), 8).as("w8"))
    val prior = docs.filter(col(idCol) % 2 === 0)
      .groupBy(col(labelCol).as("cand")).agg(count(lit(1)).as("nl"))
      .crossJoin(broadcast(docs.filter(col(idCol) % 2 === 0)
        .agg(count(lit(1)).as("nd"))))
      .select(col("cand"),
        scaled(log(col("nl").cast("double") / col("nd").cast("double")), 8).as("p8"))
    val scores = test.join(model, Seq("w"))
      .groupBy("doc_id", "label", "cand")
      .agg(sum(col("k") * col("w8")).as("s8"))
      .join(broadcast(prior), Seq("cand"))
      .withColumn("total8", col("s8") + col("p8"))
    val byDoc = Window.partitionBy("doc_id")
      .orderBy(col("total8").desc, col("cand").desc)
    scores
      .withColumn("rn", row_number().over(byDoc))
      .withColumn("margin8", col("total8") - lead(col("total8"), 1).over(byDoc))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("lang"), col("cand").as("pred_lang"),
        (col("label") === col("cand")).as("correct"), col("margin8"))
  }

  /** Readability profile per document: Flesch reading-ease and
    * Flesch–Kincaid grade (Kincaid et al. 1975) from the classic
    * proxies — syllables ≈ vowel-group runs per word (min 1),
    * sentences ≈ terminal-punctuation runs (min 1) — plus the longest
    * consonant run as a pronounceability/gibberish signal. Everything
    * is exact integer counts until the two fixed formula trees, so
    * the rounded outputs are engine-portable.
    *
    * Scale shape: pure per-row higher-order array expressions inside
    * one narrow scan — no explode, no shuffle, whole-stage codegen;
    * a 100 TB corpus reads at parquet speed. */
  def readability(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val ws = tokens(col(textCol))
    val nw = greatest(size(ws), lit(1)).cast("long")
    val syl = aggregate(ws, lit(0L), (acc, w) =>
      acc + greatest(size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))), lit(1)))
    val ns = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1)).cast("long")
    val maxRun = coalesce(
      array_max(transform(
        regexp_extract_all(col(textCol), lit("[^aeiouy ]+"), lit(0)),
        r => length(r))), lit(0))
    docs.select(col(idCol).as("doc_id"), nw.as("n_words"), ns.as("n_sentences"),
        syl.as("n_syllables"), maxRun.as("max_consonant_run"))
      .withColumn("flesch",
        rd(lit(206.835) - lit(1.015) * (col("n_words").cast("double") /
          col("n_sentences").cast("double")) - lit(84.6) *
          (col("n_syllables").cast("double") / col("n_words").cast("double")), 4))
      .withColumn("fk_grade",
        rd(lit(0.39) * (col("n_words").cast("double") /
          col("n_sentences").cast("double")) + lit(11.8) *
          (col("n_syllables").cast("double") / col("n_words").cast("double")) -
          lit(15.59), 4))
  }

  /** χ² feature selection against a binary document label: for each
    * token (document-presence grain, min-df filtered), the 2×2
    * independence χ² from EXACT marginal counts — the classic
    * filter-method ranking for text features (Yang & Pedersen 1997).
    * The statistic is one fixed double tree over exact longs (the
    * inner determinant stays under 2⁶³; the large products run in
    * double on BOTH engines with an identical tree, so the ordering
    * is deterministic), ranked desc with a token tie-break.
    *
    * Scale shape: one distinct-(doc,token) reduction, one per-token
    * count rollup joined against a 1-row broadcast of the label
    * totals — no token×token interaction, linear in corpus size. */
  def chi2Features(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", labelExpr: Column,
                   minDf: Long = 5L, k: Int = 50): DataFrame = {
    val present = docs.select(col(idCol).as("doc_id"), labelExpr.as("y"),
        explode(array_distinct(tokens(col(textCol)))).as("w"))
    val totals = docs.agg(count(lit(1)).as("nd"),
      sum(labelExpr.cast("long")).as("npos"))
    val perTok = present.groupBy("w").agg(
      count(lit(1)).as("df"),
      sum(col("y").cast("long")).as("n11"))
      .filter(col("df") >= minDf)
    val d = perTok.crossJoin(broadcast(totals))
      .withColumn("n10", col("df") - col("n11"))
      .withColumn("n01", col("npos") - col("n11"))
      .withColumn("n00", col("nd") - col("npos") - col("n10"))
    val det = (col("n11") * col("n00") - col("n10") * col("n01")).cast("double")
    val chi2 = col("nd").cast("double") * det * det /
      nullifZero(((col("n11") + col("n10")) * (col("n01") + col("n00"))).cast("double") *
        ((col("n11") + col("n01")) * (col("n10") + col("n00"))).cast("double"))
    // Per-partition top-k BEFORE the global rank: a token outside its
    // partition's local top-k cannot be in the global top-k, so the
    // un-partitioned window (one task by construction) sorts at most
    // k·partitions rows instead of the whole ≥minDf vocabulary — the
    // result is bit-identical, the single-task sort is dimension-
    // bounded (same discipline as Profiling.tierSummary).
    val scored = d.withColumn("chi2", chi2)
    val localTop = scored
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lr", row_number().over(
        Window.partitionBy("__pid").orderBy(col("chi2").desc, col("w"))))
      .filter(col("__lr") <= k)
      .drop("__pid", "__lr")
    localTop
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("chi2").desc, col("w"))))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("w").as("token"), col("df"), col("n11"),
        rd(col("chi2"), 4).as("chi2"))
  }

  /** The Gopher quality-rule panel (Rae et al. 2021, appendix A1):
    * the seven document heuristics MassiveWeb filtered on, each
    * published as its own signal beside the keep decision so funnel
    * accounting stays additive (first failing rule names the drop,
    * the [[corpusFilter]] convention). Rules, with the paper's
    * defaults as parameters:
    *   1. word count in [minWords, maxWords]
    *   2. mean word length in [3, 10]
    *   3. symbol-to-word ratio (# or …) ≤ 0.1
    *   4. ≤ 90% of lines start with a bullet
    *   5. ≤ 30% of lines end with an ellipsis
    *   6. ≥ 80% of words contain an alphabetic character
    *   7. ≥ 2 distinct stopwords present
    *
    * One narrow codegen'd map over the corpus — no shuffle, no UDFs:
    * counts come from split/filter/regexp built-ins. Ratio rules
    * compare CROSS-MULTIPLIED integers (10·symbols ≤ words etc.), so
    * there is no FP boundary to disagree on. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val words = tokens(col(textCol))
    val nW = size(words)
    val lines = split(col(textCol), "\n")
    val nL = size(lines)
    val meanLen10 = // 10·mean word length, exact integer
      (length(col(textCol)) - (nW - 1)) * 10
    val nSymbols = size(filter(words, w =>
      w.contains("#") || w.contains("...")))
    val nBullet = size(filter(lines, l =>
      l.startsWith("•") || l.startsWith("- ") || l.startsWith("* ")))
    val nEllipsis = size(filter(lines, l => l.endsWith("...")))
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]")))
    val enStops = stopwords.toMap.apply("en")
    val nStops = size(filter(
      array(enStops.map(lit): _*), sw => array_contains(words, sw)))
    docs.select(col(idCol), nW.as("n_words"),
        rd(meanLen10.cast("double") / nW / 10.0, 4).as("mean_word_len"),
        nSymbols.as("n_symbol_words"), nL.as("n_lines"),
        nBullet.as("n_bullet_lines"), nEllipsis.as("n_ellipsis_lines"),
        nAlpha.as("n_alpha_words"), nStops.as("n_stopwords"),
        // integer cross-multiplied rule tests
        (nW >= minWords && nW <= maxWords).as("ok_word_count"),
        (meanLen10 >= nW * 30 && meanLen10 <= nW * 100).as("ok_word_len"),
        (nSymbols * 10 <= nW).as("ok_symbol_ratio"),
        (nBullet * 10 <= nL * 9).as("ok_bullets"),
        (nEllipsis * 10 <= nL * 3).as("ok_ellipsis"),
        (nAlpha * 10 >= nW * 8).as("ok_alpha"),
        (nStops >= 2).as("ok_stopwords"))
      .withColumn("first_fail",
        when(!col("ok_word_count"), "word_count")
          .when(!col("ok_word_len"), "word_len")
          .when(!col("ok_symbol_ratio"), "symbol_ratio")
          .when(!col("ok_bullets"), "bullets")
          .when(!col("ok_ellipsis"), "ellipsis")
          .when(!col("ok_alpha"), "alpha")
          .when(!col("ok_stopwords"), "stopwords")
          .otherwise("kept"))
      .withColumn("keep", col("first_fail") === "kept")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) —
    * PageRank over the word CO-OCCURRENCE graph, the graph-centrality
    * complement to [[rakeKeywords]]'s degree/frequency score: a word
    * matters if it co-occurs with words that matter. Candidate words
    * are length ≥ `minLen` (the content-word proxy for this corpus —
    * no stopword list dependency); edges are adjacent candidate pairs
    * over the FILTERED sequence (the standard TextRank window after
    * candidate selection), undirected, weighted by corpus
    * co-occurrence count and thresholded at `minWeight` to bound the
    * graph. Two exact-integer iterations in the [[Graph.pageRankScaled]]
    * discipline — s ← (3·scale) div 20 + (17·Σ w·(s div wdeg)) div 20,
    * TextRank's (1−d) form without the 1/N restart — no doubles,
    * order-insensitive, bit-portable.
    *
    * Scale shape: tokenization is a narrow scan; the edge rollup is
    * one shuffle linear in corpus tokens; the iterations join on the
    * VOCABULARY grain, which grows sublinearly in the corpus (Heaps'
    * law — [[q_heaps_law]] measures it), so the loop side shrinks
    * relative to the corpus as data grows. At 1e8-word vocabulary the
    * loop would pin layouts like the entity-graph family; at this
    * corpus's vocab the broadcast plan is optimal. */
  def textRank(docs: DataFrame, textCol: String, iters: Int = 2,
               minLen: Int = 4, minWeight: Long = 2L, topK: Int = 20,
               scale: Long = 1000000000L): DataFrame = {
    val pairs = docs
      .select(expr(s"filter(split($textCol, ' '), t -> length(t) >= $minLen)")
        .as("ts"))
      .select(explode(expr(
        """zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),
          |         slice(ts, 2, greatest(size(ts) - 1, 0)),
          |         (a, b) -> struct(least(a, b) AS w1, greatest(a, b) AS w2))"""
          .stripMargin)).as("p"))
      .filter(col("p.w1") =!= col("p.w2"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minWeight)
    val e = pairs.select(col("w1").as("src"), col("w2").as("dst"), col("w"))
      .union(pairs.select(col("w2").as("src"), col("w1").as("dst"), col("w")))
      .snapshot() // reused every iteration (join leg + degree build)
    val deg = e.groupBy("src").agg(sum(col("w")).as("wdeg"),
      count(lit(1)).as("n_neighbors"))
      .snapshot() // the node frame: degree join each round + the base
    var ranks = deg.select(col("src").as("id"), lit(scale).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks.withColumnRenamed("id", "src"), "src")
        .join(deg.select(col("src"), col("wdeg")), "src")
        .select(col("dst"), expr("(rank div wdeg) * w").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_sum"))
      ranks = deg.select(col("src").as("id"))
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (lit((3L * scale) / 20L) +
            expr("17 * coalesce(in_sum, 0L) div 20")).as("rank"))
    }
    // partition-local pre-top before the global k-row sort (the
    // [[pmiCollocations]] pattern: never single-partition the vocab)
    val localTopTr = ranks.join(deg.withColumnRenamed("src", "id"), "id")
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lr", row_number().over(Window.partitionBy("__pid")
        .orderBy(col("rank").desc, col("id").asc)))
      .filter(col("__lr") <= topK)
      .drop("__pid", "__lr")
    localTopTr
      .withColumn("rank_pos", row_number().over(
        Window.orderBy(col("rank").desc, col("id").asc)))
      .filter(col("rank_pos") <= topK)
      .select(col("rank_pos").cast("int").as("rank_pos"),
        col("id").as("word"), col("rank").cast("long").as("score"),
        col("wdeg").cast("long").as("wdeg"),
        col("n_neighbors").cast("long").as("n_neighbors"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    * SIGIR 2001) — the language-modeling lens beside [[bm25TopK]]'s
    * probabilistic-relevance one: score(q,d) = Σ_{t∈q}
    * ln((tf_t,d + μ·ctf_t/|C|) / (dl_d + μ)), μ = 2000. Candidates
    * are docs matching ≥ 1 query term; each candidate is then scored
    * against the FULL query on the (candidate × |q|) grid, so absent
    * terms contribute their background probability — that is what
    * makes QL a likelihood, not a term-match heuristic, and it's the
    * standard smoothing the LM-retrieval baselines in every IR suite
    * run.
    *
    * Exactness: tf/ctf/dl/|C| are exact longs; each grid cell is ONE
    * fixed double tree quantized to a scale-9 long, so per-doc sums
    * are order-free. Scale shape: the corpus-side passes (tf, ctf,
    * |C|) are partial-aggregable scans; the grid is candidates × a
    * ≤|q|-row broadcast dimension; top-k goes through the
    * partition-local pre-top ([[pmiCollocations]] pattern). */
  def qlmTopK(docs: DataFrame, idCol: String, textCol: String,
              terms: Seq[String], k: Int = 20, mu: Double = 2000.0): DataFrame = {
    val toks = tokens(col(textCol))
    val ex = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol), size(toks).cast("long").as("dl"), explode(toks).as("t"))
      .filter(col("t").isInCollection(terms))
    val tf = ex.groupBy(col(idCol), col("t"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .snapshot() // feeds the candidate set AND the grid probe
    val ctf = docs.select(explode(tokens(col(textCol))).as("t"))
      .filter(col("t").isInCollection(terms))
      .groupBy("t").agg(count(lit(1)).as("ctf"))
    val ctot = docs.agg(sum(size(tokens(col(textCol))).cast("long")).as("ctot"))
    val cand = tf.groupBy(col(idCol)).agg(max(col("dl")).as("dl"))
    val grid = cand
      .crossJoin(broadcast(ctf.crossJoin(ctot))) // ≤ |q| rows × 1-row total
      .join(tf.select(col(idCol), col("t"), col("tf")), Seq(idCol, "t"), "left")
      .withColumn("tf", coalesce(col("tf"), lit(0L)))
    val contrib = log((col("tf").cast("double")
      + lit(mu) * col("ctf").cast("double") / col("ctot").cast("double"))
      / (col("dl").cast("double") + lit(mu)))
    val scoredQl = grid.withColumn("c9", scaled(contrib, 9))
      .groupBy(col(idCol))
      .agg(sum(col("c9")).as("score9"),
        sum(when(col("tf") > 0L, 1L).otherwise(0L)).as("n_matched"))
    val localTopQl = scoredQl
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lr", row_number().over(Window.partitionBy("__pid")
        .orderBy(col("score9").desc, col(idCol).asc)))
      .filter(col("__lr") <= k)
      .drop("__pid", "__lr")
    localTopQl
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score9").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
      .select(col("rank").cast("int").as("rank"), col(idCol),
        col("n_matched").cast("long").as("n_matched"),
        rd(col("score9").cast("double") / 1e9, 6).as("qlm_score"))
  }

  /** Cohen's κ agreement between the stored language label and the
    * n-gram language-ID prediction (Cohen, 1960) — the
    * chance-corrected summary scalar of [[langConfusion]]'s matrix:
    * raw agreement p_o flatters a skewed label distribution, κ
    * subtracts what agreement chance alone would produce
    * (p_e = Σᵢ rᵢcᵢ/N²). The one-number answer to "can the cheap
    * heuristic stand in for the stored labels" that a labeling-audit
    * pass publishes.
    *
    * Exactness: κ = (N·Σnᵢᵢ − Σrᵢcᵢ) / (N² − Σrᵢcᵢ) — every product
    * in DECIMAL(38,0) (count×count clears int64 at corpus scale), ONE
    * double division. Scale shape: the corpus pays one
    * partial-aggregable (label, pred) rollup; everything after lives
    * on the k²-bounded confusion frame. */
  def cohensKappa(docs: DataFrame, labelCol: String,
                  textCol: String): DataFrame = {
    val cells = languageId(docs, textCol)
      .groupBy(col(labelCol).as("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .snapshot() // margins + diagonal + total all read the k² frame
    val rMarg = cells.groupBy("lang").agg(sum(col("n")).as("r"))
    val cMarg = cells.groupBy("lang_pred").agg(sum(col("n")).as("c"))
    val tot = cells.agg(sum(col("n")).as("nn"),
      sum(when(col("lang") === col("lang_pred"), col("n")).otherwise(0L))
        .as("agree"))
    val pe = rMarg.join(cMarg, col("lang") === col("lang_pred"))
      .agg(sum(dec38(col("r")) * dec38(col("c"))).as("src"))
    tot.crossJoin(broadcast(pe))
      .select(col("nn").cast("long").as("n_docs"),
        col("agree").cast("long").as("n_agree"),
        rd(col("agree").cast("double") / col("nn").cast("double"), 6).as("p_o"),
        rd(col("src").cast("double") /
          (dec38(col("nn")) * dec38(col("nn"))).cast("double"), 6).as("p_e"),
        rd((dec38(col("nn")) * dec38(col("agree")) - col("src")).cast("double") /
          nullifZero((dec38(col("nn")) * dec38(col("nn")) - col("src")).cast("double")),
          6).as("kappa"))
  }

  /** Shannon + Simpson token diversity per source (Shannon 1948;
    * Simpson, "Measurement of diversity", Nature 1949; Pielou 1966
    * for the evenness normalization): the corpus-mix dashboard a
    * curation pass reads before rebalancing — a source whose token
    * diversity collapses is boilerplate ([[repetitionSignals]] is the
    * within-doc lens; this is the across-source one). Per source over
    * its unigram distribution: H = −Σ p·ln p nats, Simpson's
    * UNBIASED concentration λ = Σ c(c−1) / (N(N−1)) (the probability
    * two drawn tokens coincide; 1−λ is the Gini–Simpson diversity),
    * and Pielou evenness J = H / ln V.
    *
    * Exactness: λ is pure integer arithmetic in DECIMAL(38,0) with
    * one final division; each H term is quantized to a scale-12 long
    * (the [[jsDivergence]] device) so the sum is order-free; J's
    * ln V is a data-dependent libm call on a source-grain row
    * (documented 1-ulp tolerance, the [[Profiling.mutualInfo]] nmi
    * convention). Scale shape: one exploded token pass to
    * (source, token) cells, a token-total broadcast back, one
    * partial-aggregable source rollup — no windows, no sort. */
  /** Dunning log-likelihood keyness between the doc-id-parity corpus
    * halves (Dunning, "Accurate methods for the statistics of
    * surprise and coincidence", Computational Linguistics 1993): per
    * token the G² = 2·Σ O·ln(O/E) statistic over the 2×2
    * (half × token) table — THE standard "which words characterize
    * corpus A vs corpus B" measure, robust at the low counts where
    * χ² breaks (Dunning's point), and the keyword-drift companion to
    * [[rboDrift]]'s rank view and [[jsDivergence]]'s whole-
    * distribution view. Expected counts use the pooled rate:
    * E_a = N_A·(a+b)/(N_A+N_B). Zero cells take the 0·ln 0 = 0
    * limit. `overused_in` marks the direction (exact cross-product
    * comparison a·N_B vs b·N_A — no division).
    *
    * Exactness: counts are exact longs; G² is one fixed double tree
    * per token row (data-dependent ln on the token grain, the
    * [[Profiling.mutualInfo]] convention — both engines run the same
    * libm). Scale shape: one exploded pass to (token, half) counts,
    * a 1-row totals broadcast, then the house partition-local
    * top-k. */
  def keynessLlr(docs: DataFrame, idCol: String, textCol: String,
                 topK: Int = 25): DataFrame = {
    require(topK >= 1, "keynessLlr: topK must be positive")
    val cells = Dedup.spreadById(docs, idCol, textCol)
      .select((col(idCol) % 2).as("h"), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t")
      .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("a"),
        sum(when(col("h") =!= 0, 1L).otherwise(0L)).as("b"))
    val totals = cells.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    val (aD, bD) = (col("a").cast("double"), col("b").cast("double"))
    val (naD, nbD) = (col("na").cast("double"), col("nb").cast("double"))
    val pooled = (aD + bD) / (naD + nbD)
    val term = (o: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) =>
      when(o === 0.0, lit(0.0)).otherwise(o * log(o / e))
    cells.crossJoin(broadcast(totals))
      .withColumn("g2", lit(2.0) *
        (term(aD, naD * pooled) + term(bD, nbD * pooled)))
      .orderBy(col("g2").desc, col("t")).limit(topK)
      .select(col("t").as("token"),
        col("a").cast("long").as("count_a"),
        col("b").cast("long").as("count_b"),
        rd(col("g2"), 4).as("g2_llr"),
        when(col("a") * col("nb") > col("b") * col("na"), lit("even_ids"))
          .otherwise(lit("odd_ids")).as("overused_in"))
  }

  /** Token burstiness via the variance-to-mean ratio of per-document
    * counts (Church & Gale, "Poisson mixtures", Natural Language
    * Engineering 1995; Katz 1996): a Poisson-scattered token has
    * VMR = 1; VMR ≫ 1 means the token CLUMPS — when it appears it
    * appears many times (topical/boilerplate), the within-corpus
    * burstiness lens beside [[tokenDispersion]]'s across-source
    * evenness. Zero-count docs enter through the document total N:
    * VMR = (N·Σc² − (Σc)²) / (N·Σc) — population variance over mean,
    * an EXACT integer ratio with one final division.
    *
    * Scale shape: one exploded pass to (doc, token) counts, a token
    * rollup (Σc, Σc², doc frequency) with DECIMAL(38,0) squares
    * ([[sharpeRatio]] rule), a 1-row N broadcast, then the house
    * partition-local top-k by total count. */
  def tokenBurstiness(docs: DataFrame, idCol: String, textCol: String,
                      topK: Int = 50): DataFrame = {
    require(topK >= 1, "tokenBurstiness: topK must be positive")
    val dc = Dedup.spreadById(docs, idCol, textCol)
      .select(col(idCol).as("d"), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("d", "t").agg(count(lit(1)).as("c"))
    val g = dc.groupBy("t")
      .agg(count(lit(1)).as("m"), sum(col("c")).as("sc"),
        sum(dec38(col("c")) * col("c")).as("sq"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    g.crossJoin(broadcast(nDocs))
      .orderBy(col("sc").desc, col("t")).limit(topK)
      .select(col("t").as("token"),
        col("sc").cast("long").as("n_occ"),
        col("m").cast("long").as("n_docs_with"),
        rd((dec38(col("nd")) * col("sq") - dec38(col("sc")) * col("sc")).cast("double") /
          nullifZero((dec38(col("nd")) * col("sc")).cast("double")), 6)
          .as("vmr_burstiness"))
  }

  /** Moving-average type-token ratio per source (Covington & McFall,
    * "Cutting the Gordian knot: the moving-average type-token ratio",
    * J. Quantitative Linguistics 2010): plain TTR = V/N falls with
    * document LENGTH (Heaps' law), so cross-length comparisons lie;
    * MATTR fixes the measurement window — the mean over all W-token
    * sliding windows of (distinct types in window)/W — making the
    * lexical-diversity number length-invariant. Docs shorter than W
    * fall back to their plain TTR (the paper's convention) and are
    * counted separately. [[diversityIndex]] is the source-grain
    * unigram-distribution lens; this is the within-doc lens rolled up.
    *
    * Exactness: per-window distinct counts are exact ints from pure
    * array expressions (no explode, no shuffle — one codegen'd map
    * per doc); the per-doc ratio pays one division and is quantized
    * to a scale-12 long so the source mean is an exact integer sum
    * with one final division. Scale shape: one narrow doc scan + one
    * partial-aggregable source rollup. Cost is O(N·W) array work per
    * doc — W is a constant dial. */
  def mattr(docs: DataFrame, sourceCol: String, textCol: String,
            window: Int = 25): DataFrame = {
    require(window >= 2, "mattr: window must be >= 2")
    val w = window
    val base = docs.select(col(sourceCol).as("source"),
        expr(s"filter(split(${textCol}, ' '), t -> t <> '')").as("ts"))
      .select(col("source"), size(col("ts")).cast("long").as("n"), col("ts"))
      .filter(col("n") > 0L)
      .withColumn("m12",
        when(col("n") >= w.toLong, scaled(
          expr(s"aggregate(transform(sequence(1, size(ts) - ${w - 1}), " +
            s"i -> CAST(size(array_distinct(slice(ts, i, $w))) AS BIGINT)), " +
            "0L, (a, x) -> a + x)").cast("double") /
            (lit(w.toDouble) * (col("n") - lit((w - 1).toLong)).cast("double")), 12))
          .otherwise(scaled(size(array_distinct(col("ts"))).cast("double") /
            col("n").cast("double"), 12)))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") < w.toLong, 1L).otherwise(0L)).as("n_short"),
        sum(col("m12")).as("s12"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_short").cast("long").as("n_short"),
        rd(col("s12").cast("double") / col("n_docs").cast("double") / 1.0e12, 6)
          .as("mattr"))
  }

  def diversityIndex(docs: DataFrame, sourceCol: String,
                     textCol: String): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val cells = docs
      .select(col(sourceCol).as("source"), col(textCol))
      .repartition(parts, col("source"), col(textCol))
      .select(col("source"), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    val totals = cells.groupBy("source").agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("n").cast("double")
    cells.join(broadcast(totals), "source")
      .withColumn("h12", scaled(-p * log(p), 12))
      .groupBy("source")
      .agg(max(col("n")).as("n"), count(lit(1)).as("v"),
        sum(col("h12")).as("sh"),
        sum(dec38(col("c")) * (col("c") - lit(1L))).as("sq"))
      .select(col("source"),
        col("n").cast("long").as("n_tokens"),
        col("v").cast("long").as("vocab"),
        rd(col("sh").cast("double") / 1.0e12, 6).as("shannon_nats"),
        rd(col("sq").cast("double") /
          nullifZero((dec38(col("n")) * (col("n") - lit(1L))).cast("double")), 6)
          .as("simpson_concentration"),
        rd(col("sh").cast("double") / 1.0e12 /
          nullifZero(log(col("v").cast("double"))), 6).as("pielou_evenness"))
  }
}
