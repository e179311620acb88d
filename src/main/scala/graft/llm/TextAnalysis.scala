package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.hash31
import graft.operators.CacheLifecycle

/** Text-analysis operators for training-data curation over `documents`:
  * quality scoring, token counting, heuristic language scoring, and document
  * fingerprinting. All are narrow per-row projections (no shuffle at all) —
  * they run at scan speed and scale linearly.
  */
object TextAnalysis {

  /** Tiny function-word lists per language for the n-gram-heuristic language
    * scorer. (The corpus vocabulary is English-only, so on this data the
    * classifier degenerates deterministically — the operator is the point.) */
  val FunctionWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "et", "les"),
    "es" -> Seq("el", "y", "los"),
    "zh" -> Seq("的", "是", "了"))

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  private def toks: Column = split(col("text"), " ")

  /** Quality scoring: token stats, stopword ratio, alpha ratio, and a
    * composite score — the usual pre-training corpus filters (length,
    * repetition, symbol density).
    *
    * Staged projections: the token array and the integer counts are each
    * named once and referenced many times — the aliases are non-cheap, so
    * `CollapseProject` keeps the stages separate and each split/HOF runs
    * once per row instead of once per use site. */
  def quality(docs: DataFrame): DataFrame = quality(docs, Nil)

  /** [[quality]] with extra passthrough columns (e.g. `source`) kept on
    * the scored frame — the default overload keeps the original schema
    * so every existing oracle is untouched. */
  def quality(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val tokenized = docs.select(
      (Seq(col("doc_id"), col("text"), toks.as("_toks")) ++ keep.map(col)): _*)
    val counted = tokenized.select(
      (Seq(
        col("doc_id"),
        length(col("text")).as("_n_chars"),
        size(col("_toks")).as("_n_toks"),
        size(array_distinct(col("_toks"))).as("_n_dist"),
        size(filter(col("_toks"), t => t.isin(Stopwords.map(lit(_)): _*))).as("_n_stop"))
        ++ keep.map(col)): _*)
    counted.select(
      (Seq(
      col("doc_id"),
      col("_n_chars").cast("long").as("n_chars_obs"),
      col("_n_toks").cast("long").as("n_tokens"),
      col("_n_dist").cast("long").as("n_distinct"),
      // raw doubles, deliberately un-rounded: each is one deterministic
      // division/product, bit-identical in Spark and DuckDB — rounding is
      // what diverges (Spark rounds the shortest decimal string HALF_UP,
      // DuckDB rounds the binary value; exact ties like 0.25375 split)
      (col("_n_stop").cast("double") / col("_n_toks")).as("stopword_ratio"),
      (col("_n_dist").cast("double") / col("_n_toks")).as("ttr"),
      ((col("_n_chars") - col("_n_toks") + 1).cast("double") / col("_n_toks")).as("avg_token_len"),
      // Composite quality: long enough, lexically diverse, not stopword soup.
      (least(col("_n_toks").cast("double") / 100.0, lit(1.0)) *
        (col("_n_dist").cast("double") / col("_n_toks")) *
        (lit(1.0) - col("_n_stop").cast("double") / col("_n_toks"))).as("quality_score"))
        ++ keep.map(col)): _*)
  }

  /** Source × quality-band matrix — "which source ships the junk?": per
    * (source, band) the doc/token counts and each source's share of its
    * own rows, with band = `least(4, floor(score·5))` on [[quality]]'s
    * composite (the identical IEEE chain both engines — the
    * `quality_vs_dup` decile parity precedent). The table read before
    * deciding per-source admission rates instead of one global cutoff.
    *
    * One scan (quality is a projection), one low-cardinality keyed agg;
    * the per-source totals ride a window over the ≤ |sources|·5-row
    * aggregate — no second pass. */
  def sourceQualityMatrix(docs: DataFrame): DataFrame = {
    val scored = quality(docs, Seq("source"))
      .select(col("source"),
        least(lit(4L), floor(col("quality_score") * 5).cast("long")).as("band"),
        col("n_tokens"))
    val cells = scored.groupBy("source", "band")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .transform(CacheLifecycle.scaffold)
    val totals = cells.groupBy("source").agg(sum("n_docs").as("_src_docs"))
    cells.join(broadcast(totals), "source")
      .select(col("source"), col("band"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("_src_docs")).as("band_frac"))
  }

  /** Linear quality-classifier gate — the model-based filter stage of a
    * C4/CCNet-style pipeline (a fastText-family classifier scores every
    * document; a threshold on the score gates it into the corpus). The
    * weights here are FIXED literals standing in for the offline-trained
    * model: training is not a pipeline stage, scoring at corpus scale is.
    *
    * The logit is a fixed left-to-right IEEE chain over [[quality]]'s
    * bit-exact features, and the keep decision is the logit's SIGN — no
    * sigmoid, deliberately: the monotone squash changes no decision and
    * would drag a transcendental into the hash compare (same discipline
    * as [[tfidfTopK]]/[[bm25TopK]]). Pure projection on top of
    * [[quality]]'s projection: zero shuffles, scan-speed.
    */
  def qualityLogit(docs: DataFrame): DataFrame = {
    val q = quality(docs)
    val logit = lit(-1.0) +
      lit(2.0) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)) +
      lit(1.5) * col("ttr") +
      lit(-3.0) * col("stopword_ratio") +
      lit(-0.05) * col("avg_token_len")
    q.select(col("doc_id"), logit.as("logit"), (logit > 0.0).as("keep"))
  }

  /** Token counting: whitespace tokens plus a BPE-ish sub-token estimate
    * (runs of letters, digits, or single other symbols — the common
    * pre-tokenizer regex shape). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
        .cast("long").as("re_tokens"),
      // crude BPE budget: ~1 token per 4 chars, ceil
      ceil(length(col("text")).cast("double") / 4.0).cast("long").as("bpe_est"))

  /** Heuristic language ID: score = count of function-word hits per language;
    * predicted language = argmax (ties broken by language code order).
    *
    * The token array and the winning (score, lang) struct are each projected
    * once — the 5 per-language HOF scans and the `greatest` run once per row,
    * not once per output column. */
  def langScores(docs: DataFrame): DataFrame = {
    val tokenized = docs.select(col("doc_id"), col("lang"), toks.as("_toks"))
    val scores = FunctionWords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(col("_toks"), t => t.isin(words.map(lit(_)): _*)))
      struct(hits.cast("long").as("score"), lit(lang).as("lang"))
    }
    tokenized
      .select(col("doc_id"), col("lang"), greatest(scores: _*).as("_best"))
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        col("_best").getField("lang").as("pred_lang"),
        col("_best").getField("score").as("pred_score"))
  }

  /** Document fingerprinting: whole-document rolling hash plus a winnowing
    * -style minimum over all 8-char window hashes (Schleimer et al. '03,
    * "local" fingerprint that survives small edits). The window minimum is
    * the native `WinnowMin` expression — a single rolling-hash pass instead
    * of re-hashing every window (O(len) vs O(len·8) + a substring
    * allocation per shift). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.GraftFunctions.hash31(col("text"), 1000003L).as("fp_full"),
      graft.functions.GraftFunctions.winnowMin(col("text"), 8, 1000003L).as("fp_winnow"))

  /** Repetition statistics — the n-gram-repetition family of the Gopher
    * quality rules (Rae et al. 2021, table A1: "fraction of characters in
    * the most common n-gram" / duplicate-n-gram fractions), word-bigram
    * flavor: per document, the share of bigram occurrences taken by the
    * single most frequent bigram and the share that are repeats of an
    * earlier bigram. High values ⇒ boilerplate/spam; pipelines threshold
    * on them. Shape: explode bigrams (with multiplicity — frequency is the
    * point) → per-(doc, gram) count → per-doc aggregate; both shuffles are
    * doc-keyed and partial-aggregating. Docs with fewer than 2 tokens have
    * no bigrams and drop out, like every per-gram operator here. */
  /** Corpus vocabulary head: top-k tokens by total occurrences with
    * document frequency — the stats table a tokenizer build (BPE corpus
    * prep) and an idf table both start from. explode → token-keyed
    * partial-agg shuffle; the top-k is `TakeOrderedAndProject` (per
    * partition local top-k, then a k-row merge on the driver — never a
    * global sort). Tie-broken by token so the cut at rank k is total. */
  def vocabulary(docs: DataFrame, k: Int = 50): DataFrame =
    docs
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("tok").asc)
      .limit(k)

  /** Per-source distinct 3-shingle cardinality: exact count beside the
    * K-minimum-values estimate ([[graft.functions.KMinValues]]) — the
    * audit table that justifies replacing `countDistinct` with the sketch
    * at scale. At 100 TB the exact side is the one that stops being
    * runnable (it shuffles every distinct shingle); the KMV side shuffles
    * ≤ k longs per partition per source and, because min-k is a pure
    * function of the input set, its estimate is bit-deterministic — which
    * is why the oracle can pin a "probabilistic" sketch exactly.
    *
    * Estimate: n̂ = (k−1)·M / h_(k) with h = hash31(shingle) uniform on
    * [0, M); below k distinct hashes the sketch is the exact set and
    * n̂ = |sketch|. One double division of exact integers per source. */
  def kmvShingleDistinct(docs: DataFrame, n: Int = 3, k: Int = 16,
      modulus: Long = 1073741789L): DataFrame = {
    val sh = Dedup.shingles(docs, n)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("shingle"),
        hash31(col("shingle"), modulus).as("_h"))
    val kmv = udaf(new graft.functions.KMinValues(k),
      org.apache.spark.sql.Encoders.scalaLong)
    sh.groupBy("source")
      .agg(
        countDistinct(col("shingle")).as("n_exact"),
        kmv(col("_h")).as("_kmins"))
      .select(
        col("source"), col("n_exact"),
        size(col("_kmins")).cast("long").as("n_kept"),
        when(size(col("_kmins")) >= k, element_at(col("_kmins"), k)).as("kth_min"),
        when(size(col("_kmins")) < k, size(col("_kmins")).cast("double"))
          .otherwise(lit((k - 1).toDouble * modulus) / element_at(col("_kmins"), k))
          .as("est_kmv"))
  }

  /** Per-source out-of-vocabulary rate against the corpus top-`v` token
    * vocabulary — the coverage table a tokenizer/vocab decision reads: a
    * source whose OOV rate spikes is about to shred into byte-fallback
    * tokens. The vocab head is [[vocabulary]]'s deterministic cut (count
    * desc, token asc — total order at the boundary); the scan side is one
    * explode + broadcast membership + source-keyed partial agg. At 100 TB
    * the v-row vocab broadcasts trivially and nothing wider than (source)
    * ever shuffles. `oov_rate` is one division of two exact counts. */
  def oovStats(docs: DataFrame, v: Int = 20): DataFrame = {
    val occ = docs.select(col("source"), explode(toks).as("tok"))
    val vocab = vocabulary(docs, v).select(col("tok"), lit(1).as("_in"))
    occ.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_occ_total"),
        count(when(col("_in").isNull, 1)).as("n_occ_oov"))
      .withColumn("oov_rate",
        col("n_occ_oov").cast("double") / col("n_occ_total"))
  }

  /** [[vocabulary]] at unbounded domain width — the sketch-then-recount
    * heavy-hitters pattern: when the token domain is too wide to
    * hash-aggregate exactly (URLs, 5-grams, user agents at 100 TB), a
    * Misra–Gries sketch ([[graft.functions.MisraGries]], bounded to
    * `capacity` entries per partition and in the merge) nominates
    * candidates, and ONE exact aggregation over just the candidate tokens
    * produces the final counts. The sketch content is partition-order
    * dependent, the OUTPUT is not: MG guarantees any item with frequency
    * > N/(capacity+1) survives, so whenever the true k-th count clears
    * that bar the candidate set is a superset of the true top-k and the
    * exact recount returns the identical table [[vocabulary]] would —
    * bit-for-bit, which is what lets the same DuckDB oracle pin both.
    *
    * The driver materializes only the ≤ `capacity`-entry final sketch
    * (the same bounded 1-row pattern as the IVF centroid collect), then
    * broadcasts the candidate filter back into the scan; the exact
    * recount shuffles only candidate tokens. */
  def vocabularySketch(docs: DataFrame, k: Int = 50, capacity: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sketch = docs.select(explode(toks).as("tok")).as[String]
      .select(new graft.functions.MisraGries(capacity).toColumn)
      .head()
    val cands = sketch.keys.toSeq.sorted
    docs
      .select(col("doc_id"), explode(toks).as("tok"))
      .filter(col("tok").isin(cands: _*))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("tok").asc)
      .limit(k)
  }

  /** Per-document top-k salient terms by tf·idf-ratio — the keyword
    * extraction step of corpus exploration / topic tagging.
    *
    * idf is the RATIO form `N/df`, not `log(N/df)`: the score is then
    * `(tf·N)` — an exact BIGINT — divided once by `df`, i.e. two IEEE
    * operations on exact integers, bit-identical in any engine. `log`
    * would drag libm differences into the hash compare for no ranking
    * benefit worth it here (the ratio form is a recognized idf variant;
    * its rankings differ from log-idf only where a lower-tf term's
    * rarity advantage is sub-logarithmic — acceptable for a
    * deterministic pipeline stage and stated openly rather than hidden
    * behind a tolerance compare).
    *
    * Shape at scale: explode → (doc, tok) partial-agg shuffle; df =
    * one tok-keyed agg over the (doc, tok) pairs (already distinct —
    * no countDistinct); corpus size N is a 1-row broadcast; the tok
    * join shuffles on tok (AQE broadcasts df while it is small); the
    * top-k cut is a doc-keyed window — rank ties broken by token, so
    * the cut is total-ordered and reproducible.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.join(df, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("doc_id", "rnk", "tok", "tf", "df", "score")
  }

  /** BM25 document ranking for a literal query-term set — the retrieval
    * scorer a corpus-curation stack uses to pull topical slices ("find the
    * best k documents about X") and to build retrieval-augmented training
    * mixes.
    *
    * Okapi BM25 (Robertson & Walker '94) with k1 = 1.2, b = 0.75, and the
    * RATIO idf `(N − df + 0.5) / (df + 0.5)` instead of its log — the same
    * transcendental-free discipline as [[tfidfTopK]]: every score is a
    * fixed-order chain of IEEE +,·,/ on exact integers (tf, df, N, dl are
    * integers; avgdl is one division of two exact BIGINTs), so any engine
    * reproduces it bit-for-bit. log-idf reorders rankings only when a
    * rarity gap is sub-logarithmic; for a deterministic pipeline stage the
    * trade is stated, not hidden behind a tolerance compare. Term
    * contributions sum in query-term order (a literal left-to-right chain,
    * never a re-associated aggregate), so float addition order is fixed.
    *
    * Shape at 100 TB: tf per term is `size(filter(tokens))` — a pure
    * per-row projection (the query is a HANDFUL of terms; exploding the
    * corpus on tok to join a 3-row query table would shuffle everything
    * for nothing); df and avgdl are one 1-row aggregate broadcast back;
    * the top-k cut is `TakeOrderedAndProject` (orderBy + limit), never a
    * global sort. Zero corpus shuffles end to end. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val base = docs.select(col("doc_id"), toks.as("_toks"))
      .withColumn("dl", size(col("_toks")).cast("long"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"_tf_$i",
        size(filter(col("_toks"), x => x === lit(t))).cast("long"))
    }
    val aggs =
      count(lit(1)).as("n_docs") +: sum("dl").as("sum_dl") +:
        terms.indices.map(i => count(when(col(s"_tf_$i") > 0, 1)).as(s"_df_$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val termScore = terms.indices.map { i =>
      val tf = col(s"_tf_$i").cast("double")
      val idf = (col("n_docs") - col(s"_df_$i") + lit(0.5)).cast("double") /
        (col(s"_df_$i") + lit(0.5)).cast("double")
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))
    }
    scored
      .withColumn("bm25", termScore.reduceLeft(_ + _))
      .filter(col("bm25") > 0.0)
      .select(col("doc_id"), col("dl").as("n_tokens"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** The Gopher document-quality gates (Rae et al. 2021, table A1) that
    * are not already covered by [[quality]]/[[repetitionStats]]: mean
    * word length in [3, 10], fraction of words with at least one
    * alphabetic character ≥ 0.8, symbol-to-word ratio (# and … marks)
    * ≤ 0.1, and at least 2 stop words. Emits the measured statistic AND
    * the per-gate flag (audit trail, same policy as `Corpus.filterFunnel`)
    * plus the conjunction `pass_gopher`.
    *
    * Shape: one staged projection per row — zero shuffles; every ratio is
    * a single integer division (bit-stable in Spark and DuckDB). */
  def gopherStats(docs: DataFrame): DataFrame = gopherFlagged(docs).drop("n_toks")

  /** Per-rule ablation of the Gopher gate — "which rule does the work":
    * for each rule, the documents (and their tokens) it would remove
    * ALONE (`n_fail`/`toks_fail`) and the ones ONLY it removes — its
    * marginal over the other three (`n_fail_only`/`toks_fail_only`). The
    * `any` row is the composite gate's total removal, with the
    * exactly-one-rule count as its marginal column (Σ of the per-rule
    * onlys by construction). This is the table a curation review reads
    * before loosening a threshold: a rule with a large `n_fail` but ~0
    * `n_fail_only` is redundant; one with a large marginal is the gate.
    *
    * ONE corpus pass: the doc-level flags collapse into a single row of
    * conditional sums (map-side combine), unpivoted with `stack` — no
    * per-rule re-scan, no join, no window. */
  def gopherAblation(docs: DataFrame): DataFrame = {
    val rules = Seq("word_len" -> "pass_word_len", "alpha" -> "pass_alpha",
      "symbol" -> "pass_symbol", "stop" -> "pass_stop")
    def fail(c: String) = !col(c)
    def onlyFail(c: String) =
      fail(c) && rules.map(_._2).filter(_ != c).map(col).reduce(_ && _)
    val nFailed = rules.map { case (_, c) =>
      when(fail(c), 1).otherwise(0) }.reduce(_ + _)
    val aggCols = rules.flatMap { case (n, c) => Seq(
      sum(when(fail(c), 1L).otherwise(0L)).as(s"_f_$n"),
      sum(when(fail(c), col("n_toks")).otherwise(0L)).as(s"_ft_$n"),
      sum(when(onlyFail(c), 1L).otherwise(0L)).as(s"_o_$n"),
      sum(when(onlyFail(c), col("n_toks")).otherwise(0L)).as(s"_ot_$n"))
    } ++ Seq(
      sum(when(!col("pass_gopher"), 1L).otherwise(0L)).as("_f_any"),
      sum(when(!col("pass_gopher"), col("n_toks")).otherwise(0L)).as("_ft_any"),
      sum(when(nFailed === 1, 1L).otherwise(0L)).as("_o_any"),
      sum(when(nFailed === 1, col("n_toks")).otherwise(0L)).as("_ot_any"))
    val stacked = (rules.map(_._1) :+ "any").map(n =>
      s"'$n', _f_$n, _ft_$n, _o_$n, _ot_$n").mkString(", ")
    gopherFlagged(docs)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(expr(s"stack(5, $stacked) AS " +
        "(rule, n_fail, toks_fail, n_fail_only, toks_fail_only)"))
  }

  /** [[gopherStats]] plus the doc's token count carried through — the
    * shared frame [[gopherAblation]] prices rule removals in tokens on. */
  private def gopherFlagged(docs: DataFrame): DataFrame = {
    val tokenized = docs.select(col("doc_id"), col("text"), toks.as("_toks"))
    val counted = tokenized.select(
      col("doc_id"),
      length(col("text")).as("_n_chars"),
      size(col("_toks")).as("_n_toks"),
      size(filter(col("_toks"), t => t.rlike("[a-zA-Z]"))).as("_n_alpha"),
      (size(regexp_extract_all(col("text"), lit("#"), lit(0))) +
        size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0)))).as("_n_sym"),
      size(filter(col("_toks"), t => t.isin(Stopwords.map(lit(_)): _*))).as("_n_stop"))
    val stats = counted.select(
      col("doc_id"),
      ((col("_n_chars") - col("_n_toks") + 1).cast("double") / col("_n_toks"))
        .as("mean_word_len"),
      (col("_n_alpha").cast("double") / col("_n_toks")).as("alpha_word_frac"),
      (col("_n_sym").cast("double") / col("_n_toks")).as("symbol_ratio"),
      col("_n_stop").cast("long").as("n_stop"),
      col("_n_toks").cast("long").as("n_toks"))
    stats.select(
      col("doc_id"), col("mean_word_len"), col("alpha_word_frac"),
      col("symbol_ratio"), col("n_stop"),
      col("mean_word_len").between(3.0, 10.0).as("pass_word_len"),
      (col("alpha_word_frac") >= 0.8).as("pass_alpha"),
      (col("symbol_ratio") <= 0.1).as("pass_symbol"),
      (col("n_stop") >= 2).as("pass_stop"),
      col("n_toks")) // kept last so gopherStats' drop restores its contract
      .withColumn("pass_gopher",
        col("pass_word_len") && col("pass_alpha") && col("pass_symbol") && col("pass_stop"))
  }

  /** Bigram-LM fluency scoring — the perplexity-filter stage of a CCNet-
    * style curation pipeline (Wenzek et al. 2020 rank documents by the
    * perplexity of a small LM trained on reference text and drop the
    * worst tail; KenLM plays the scorer there).
    *
    * The LM is an add-one-smoothed bigram model TRAINED ON A DETERMINISTIC
    * HASH SLICE of the corpus itself (`hash31(doc_id) % 100 < trainPct` —
    * the same per-row gate `Sampling` uses, so "train on a sample, score
    * everything" composes without a second scan of anything). Each
    * transition scores `p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)`.
    *
    * Transcendental-free by the same discipline as [[tfidfTopK]]/
    * [[bm25TopK]]: instead of `exp(-mean log p)` the score is the mean
    * INVERSE transition probability in fixed point —
    * `(c(w1·) + V) * scale div (c(w1 w2) + 1)` is an exact BIGINT per
    * transition, the per-doc sum is exact integer arithmetic (order-
    * independent — safe under any partitioning or AQE re-plan), and the
    * mean is ONE final IEEE division. Monotone in the same direction as
    * perplexity (rare transitions ⇒ large inverse probability), so the
    * filter keeps/drops the same tails; the substitution is stated, not
    * hidden behind a tolerance compare.
    *
    * Shape at 100 TB: bigram extraction is a per-row projection; LM
    * counts are two token-keyed partial-agg shuffles over the train
    * slice; scoring is two equality joins keyed on (w1, w2) and (w1) —
    * AQE broadcasts them while small, shuffles when the corpus vocabulary
    * outgrows that; V is a 1-row broadcast. Docs with fewer than two
    * tokens have no transition and drop out (the curation gate for those
    * is [[quality]]'s length floor). `scale` bounds: `(c(w1·)+V)·scale`
    * must fit i64, so the default 10^6 is safe to ~9·10^12 training
    * bigrams per context; drop `scale` an order of magnitude per order
    * beyond that.
    */
  def lmScore(docs: DataFrame, trainPct: Int = 50, scale: Long = 1000000L): DataFrame = {
    val tokenized = docs.select(col("doc_id"), toks.as("_toks"))
    val n = greatest(size(col("_toks")) - 1, lit(0))
    val bigrams = tokenized
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("_toks"), lit(1), n).as("w1"),
        slice(col("_toks"), lit(2), n).as("w2"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val isTrain = hash31(col("doc_id").cast("string")) % 100 < lit(trainPct.toLong)
    val trainBigrams = bigrams.filter(isTrain)
    val lm = trainBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = trainBigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = docs.filter(isTrain)
      .select(explode(toks).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    bigrams
      .join(lm, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("inv", expr(
        s"((coalesce(c1, 0L) + v) * ${scale}L) div (coalesce(c12, 0L) + 1L)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("inv").as("sum_inv"))
      .withColumn("lm_score", col("sum_inv").cast("double") / col("n_bigrams"))
  }

  def repetitionStats(docs: DataFrame): DataFrame = {
    val tokenized = docs.select(col("doc_id"), toks.as("_toks"))
    val idx = when(size(col("_toks")) >= 2, sequence(lit(1), size(col("_toks")) - 1))
      .otherwise(array().cast("array<int>"))
    val grams = tokenized.select(
      col("doc_id"),
      explode(transform(idx, i => concat_ws(" ",
        element_at(col("_toks"), i), element_at(col("_toks"), i + 1)))).as("gram"))
    grams
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_bigrams"),
        max("c").as("_top_c"),
        count(lit(1)).as("_n_distinct"))
      .select(
        col("doc_id"), col("n_bigrams"),
        (col("_top_c").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        ((col("n_bigrams") - col("_n_distinct")).cast("double") / col("n_bigrams"))
          .as("dup_bigram_frac"))
  }

  /** Simpson concentration index per document — the probability two tokens
    * drawn without replacement are the SAME word type:
    * `Σ cᵢ(cᵢ−1) / (n(n−1))`. A repetition/concentration filter that,
    * unlike entropy, is an exact rational — integer numerator and
    * denominator summed order-free, one double division at the end — so
    * the score is bit-identical across engines and partitionings where a
    * Σ p·log p drifts in the last ulp. High Simpson = the doc is a few
    * words repeated (boilerplate, keyword stuffing); low = lexically
    * diverse. `top_share` (modal word mass / n) is the companion
    * single-word view. Docs with n < 2 score 0 by convention.
    *
    * Shape: word explode → (doc_id, word) count → doc_id agg — both
    * aggregates map-side combine and the doc key is uniform, so this is
    * corpus-linear with vocabulary-bound intermediate cardinality. */
  def simpsonConcentration(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(toks).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * (col("c") - 1)).as("_pairs"),
        max("c").as("_top_c"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_types"),
        when(col("n_tokens") >= 2,
          col("_pairs").cast("double") / (col("n_tokens") * (col("n_tokens") - 1)))
          .otherwise(lit(0.0)).as("simpson"),
        (col("_top_c").cast("double") / col("n_tokens")).as("top_share"))

  /** Per-document n-gram NOVELTY against the whole corpus: the fraction of a
    * doc's distinct `n`-gram shingles whose first corpus occurrence
    * (minimum doc_id over every doc containing the shingle) is this doc —
    * the marginal-contribution signal data-curation pipelines use to rank
    * sources/documents by how much genuinely new text they add (a doc that
    * only re-combines already-seen n-grams scores ~0 even when no single
    * pairwise near-dup crosses a dedup threshold).
    *
    * Scale shape: one shuffle keyed by shingle (a keyed window computes the
    * corpus-wide first occurrence in place — no per-shingle side table, no
    * second shingle-keyed join) then one doc-keyed partial aggregation.
    * Same skeleton as [[Dedup.jaccardPairs]]'s size window; all counts are
    * integers, the rate is one exact double division. Docs shorter than `n`
    * tokens have no shingles and are absent — same contract as the shingle
    * family. */
  def noveltyStats(docs: DataFrame, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Dedup.shingles(docs, n)
    val withFirst = sh.withColumn("_first_doc",
      min(col("doc_id")).over(Window.partitionBy("shingle")))
    withFirst
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("_first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_rate", col("n_novel").cast("double") / col("n_shingles"))
  }

  /** Per-document character-collision statistics — the transcendental-free
    * diversity detector: `collision_p` = Σ_c (count_c / n)² is the
    * probability two uniformly drawn characters match (the Rényi-2 /
    * Simpson-index surrogate for character entropy; gibberish and
    * single-char flood text push it toward 1, diverse text toward
    * 1/alphabet). `renyi2_diversity` = n²/Σcount_c² is the effective
    * alphabet size (exp of Rényi-2 entropy), computed with ONLY integer
    * sums and one double division so the oracle matches bit-for-bit — no
    * log/exp whose libm rounding could differ across engines.
    *
    * Scale shape: explode to (doc, char) then two partial aggregations —
    * the first groupBy's map-side combine collapses each partition's
    * per-doc char stream to ≤ |alphabet| rows before the shuffle, so the
    * exchange carries histogram rows, not characters. Spaces are excluded
    * (they measure tokenization, not content). */
  def charStats(docs: DataFrame): DataFrame = {
    val chars = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "" && col("ch") =!= " ")
    chars
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_chars_nospace"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("cnt") * col("cnt")).as("_sum_sq"))
      .select(
        col("doc_id"), col("n_chars_nospace"), col("n_distinct_chars"),
        (col("_sum_sq").cast("double") /
          (col("n_chars_nospace") * col("n_chars_nospace")).cast("double"))
          .as("collision_p"),
        ((col("n_chars_nospace") * col("n_chars_nospace")).cast("double") /
          col("_sum_sq").cast("double")).as("renyi2_diversity"))
  }

  /** Heaps-law vocabulary growth curve — distinct-type count vs token
    * volume as the corpus grows in ingest order (doc_id), bucketed into
    * `buckets` equal-width slices: per bucket, the token occurrences it
    * contributes and the types whose FIRST corpus occurrence falls in it,
    * plus cumulative totals and the running type/token ratio. The
    * declining ratio is Heaps' law observed on the corpus itself — the
    * number that sizes tokenizer vocabularies and predicts how much NEW
    * vocabulary the next crawl increment buys (the vocabulary-side twin
    * of [[graft.llm.Dedup.growthCurve]]'s duplication curve).
    *
    * Scale shape: one token explode over the corpus, a 1-row max
    * broadcast for the bucket width, one bucket-keyed and one
    * token-keyed partial agg (min-bucket per type = first occurrence,
    * exploiting bucket's monotonicity in doc_id) — nothing pairwise. The
    * cumulative window runs over `buckets` rows, a constant. */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val maxId = docs.agg(max("doc_id").as("max_id"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(maxId), col("doc_id").isNotNull)
      .withColumn("bucket", expr(s"doc_id * $buckets div (max_id + 1)"))
    // ONE corpus-wide aggregate keyed (tok, bucket) feeds both branches:
    // the identical exchange is deduplicated by ReuseExchange at runtime,
    // so the token explode runs once, and map-side combine collapses
    // per-token multiplicity before anything shuffles
    val perTokBucket = toks.groupBy("tok", "bucket").agg(count(lit(1)).as("cnt"))
    val occ = perTokBucket.groupBy("bucket").agg(sum("cnt").as("n_tokens"))
    val newTypes = perTokBucket.groupBy("tok").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_types"))
    val perBucket = occ.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
    graft.operators.BoundedWindow.cumulative(
      perBucket, struct(col("bucket")),
      Seq("n_tokens" -> "cum_tokens", "n_new_types" -> "cum_types"))
      .withColumn("type_token_ratio",
        col("cum_types").cast("double") / col("cum_tokens"))
      .select("bucket", "n_tokens", "n_new_types", "cum_tokens",
        "cum_types", "type_token_ratio")
  }

  /** First BPE merge-round statistics (Sennrich et al. 2016) — the
    * distributed piece of tokenizer training: the corpus-wide frequency
    * of every ADJACENT CHARACTER PAIR inside words, weighted by word
    * occurrence count; the top pair is exactly the first merge a BPE
    * trainer would perform, and the top-`k` table is the merge queue's
    * head. Ties break lexically (both engines compare ASCII bytewise),
    * so the k-boundary is deterministic.
    *
    * Shape at 100 TB: words aggregate FIRST (map-side combine — word
    * TYPES cross the wire, not the corpus), the pair explode then runs
    * on the vocabulary (×(len−1) of the type table, corpus-independent),
    * one pair-keyed re-agg, and the cut is `TakeOrderedAndProject` —
    * never a global sort. This per-type weighting is also why BPE
    * training parallelizes: the corpus is touched once, every subsequent
    * merge round iterates the (tiny) weighted type table. */
  def bpePairStats(docs: DataFrame, k: Int = 20): DataFrame = {
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wfreq"))
    words
      .filter(length(col("w")) >= 2)
      .withColumn("pair", explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")))
      .groupBy("pair").agg(sum("wfreq").as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(k)
  }

  /** Second BPE merge round — [[bpePairStats]] finds the first merge;
    * this APPLIES it and recounts: every word type is rendered as a
    * spaced symbol sequence (single chars initially), the round-1 winner
    * pair (count desc, lexical tiebreak) is merged by a literal
    * left-to-right `replace` (both engines' non-overlapping semantics
    * agree), and the round-2 pair table is recounted over the merged
    * symbol sequences — top-`k` with the applied merge alongside. This is
    * the iteration step that makes BPE training distributable: the corpus
    * was touched once (the word-type aggregate); every merge round after
    * it runs on the weighted TYPE table, which is vocabulary-sized, not
    * corpus-sized.
    *
    * One round only by construction: after one merge every symbol is
    * still boundary-unambiguous under literal replace (all round-1
    * symbols are single chars); chaining further rounds needs
    * sentinel-delimited symbols, which is a tokenizer-trainer concern,
    * not a corpus-scan one. */
  def bpeMergeApply(docs: DataFrame, k: Int = 10): DataFrame = {
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wfreq"))
      .withColumn("spaced", array_join(split(col("w"), ""), " "))
    def pairCounts(in: DataFrame): DataFrame = in
      .withColumn("syms", split(col("spaced"), " "))
      .filter(size(col("syms")) >= 2)
      .select(col("wfreq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"))
        .as("pair"))
      .groupBy("pair").agg(sum("wfreq").as("pair_count"))
    val best = pairCounts(words)
      .orderBy(col("pair_count").desc, col("pair")).limit(1)
      .select(col("pair").as("merge_applied"),
        expr("replace(pair, ' ', '')").as("_merged_sym"))
    val round2 = words.crossJoin(broadcast(best))
      .withColumn("spaced", expr("replace(spaced, merge_applied, _merged_sym)"))
    pairCounts(round2)
      .orderBy(col("pair_count").desc, col("pair")).limit(k)
      .crossJoin(broadcast(best.select("merge_applied")))
  }

  /** Top-N vocabulary coverage curve — the tokenizer-budget question
    * ("how much of the corpus do the 10k most frequent types cover?")
    * answered exactly: for each anchor N, the token mass of the N most
    * frequent types (frequency desc, token asc — a total order) as a
    * count and a fraction of all tokens. The flat tail of this curve is
    * where growing the vocabulary stops paying.
    *
    * Shape: one corpus scan collapsing to the TYPE table (map-side
    * combine — vocabulary cardinality crosses the wire, not corpus
    * volume), [[graft.cdc.GlobalOrder.rank]] for the global frequency
    * rank (range-partitioned — no single-task window over the
    * vocabulary), and a ≤ |anchors|-row broadcast joined on `rank ≤ N`
    * feeding one keyed aggregate. */
  def vocabCoverage(docs: DataFrame,
      anchors: Seq[Long] = Seq(100L, 1000L, 10000L)): DataFrame = {
    require(anchors.nonEmpty)
    val freqs = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val ranked = graft.cdc.GlobalOrder.rank(
      freqs, Seq(col("freq").desc, col("tok")), "rk")
    val anchor = freqs
      .agg(sum("freq").as("_total"))
      .select(explode(array(anchors.map(lit(_)): _*)).as("n_top"), col("_total"))
    ranked.join(broadcast(anchor), col("rk") <= col("n_top"))
      .groupBy("n_top", "_total")
      .agg(count(lit(1)).as("n_types_used"), sum("freq").as("covered_tokens"))
      .select(col("n_top"), col("n_types_used"), col("covered_tokens"),
        col("_total").as("total_tokens"),
        (col("covered_tokens").cast("double") / col("_total")).as("coverage"))
  }

  /** Zipf/power-law ledger without a libm fit: vocabulary grouped by
    * FREQUENCY OCTAVE — `octave = ⌊log₂ freq⌋` computed as the length of
    * the binary string `bin(freq)` minus one, an integer-exact identity
    * both engines evaluate identically (no floating log whose ULP could
    * flip an exact power of two). A Zipfian corpus shows n_types roughly
    * halving per octave while each octave's token mass stays comparable;
    * a flat or head-heavy ledger is the tell for synthetic/templated
    * text — the corpus-health check run before trusting token counts.
    *
    * Shape: one (tok)-keyed count with map-side combine — vocabulary
    * cardinality, not corpus size, crosses the wire — then an
    * octave-keyed re-agg over ≤ 64 groups and a 1-row totals broadcast
    * for the shares. */
  def zipfBuckets(docs: DataFrame): DataFrame = {
    val freqs = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    // the <=64-row octave frame feeds both the ledger and its totals:
    // both read its exchange, which the planner reuses, so the corpus is
    // exploded once
    val perOctave = freqs
      .withColumn("octave", (length(bin(col("freq"))) - 1).cast("long"))
      .groupBy("octave")
      .agg(count(lit(1)).as("n_types"), sum("freq").as("n_tokens"))
    val totals = perOctave.agg(
      sum("n_types").as("_tot_types"), sum("n_tokens").as("_tot_tokens"))
    perOctave.crossJoin(broadcast(totals))
      .select(col("octave"), col("n_types"), col("n_tokens"),
        (col("n_types").cast("double") / col("_tot_types")).as("type_share"),
        (col("n_tokens").cast("double") / col("_tot_tokens")).as("token_share"))
  }

  /** Top-k collocations by pointwise lift — the bigram-mining query a
    * tokenizer team runs before choosing merge candidates and a
    * boilerplate hunt runs to find templated phrases: for every adjacent
    * token pair occurring ≥ `minPairs` times, lift = P(xy)/(P(x)·P(y))
    * computed as the fixed-order IEEE chain
    * `(double(n_xy) · double(N)) / (double(n_x) · double(n_y))` — exact
    * integer counts, each factor cast to double BEFORE multiplying so
    * nothing overflows at any corpus size, one multiply per side and one
    * division, identical bits on any engine (the transcendental-free
    * discipline of [[tfidfTopK]]: lift orders pairs the same way PMI
    * does, without the log).
    *
    * Shape: bigrams mint per-document from the token array via
    * `zip_with` over two slices (a codegen'd higher-order function — no
    * window, no self-join, no per-doc explode beyond the pair list
    * itself), collapse to a bigram-type table with map-side combine, and
    * join the unigram type table twice (type-keyed — vocabulary
    * cardinality, not corpus size, crosses the wire). Top-k is a
    * TakeOrdered heap; the rank is minted on the k-row result
    * ([[graft.operators.BoundedWindow.cumulative]]). */
  def collocations(docs: DataFrame, minPairs: Long = 5L,
      k: Int = 20): DataFrame = {
    val arr = docs.select(split(col("text"), " ").as("_a"))
    val bigrams = arr.filter(size(col("_a")) >= 2)
      .select(explode(expr(
        "zip_with(slice(_a, 1, size(_a) - 1), slice(_a, 2, size(_a) - 1)," +
          " (x, y) -> concat(x, ' ', y))")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_pairs"))
    val uni = arr.select(explode(col("_a")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val total = uni.agg(sum("n").as("_n"))
    val scored = bigrams.filter(col("n_pairs") >= minPairs)
      .withColumn("_x", expr("split(bigram, ' ')[0]"))
      .withColumn("_y", expr("split(bigram, ' ')[1]"))
      .join(uni.select(col("tok").as("_x"), col("n").as("n_x")), Seq("_x"))
      .join(uni.select(col("tok").as("_y"), col("n").as("n_y")), Seq("_y"))
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("n_pairs"), col("n_x"), col("n_y"),
        ((col("n_pairs").cast("double") * col("_n").cast("double")) /
          (col("n_x").cast("double") * col("n_y").cast("double"))).as("lift"))
    val top = scored
      .orderBy(col("lift").desc, col("bigram"))
      .limit(k)
    graft.operators.BoundedWindow.cumulative(top,
      struct((-col("lift")).as("_nl"), col("bigram")),
      Seq.empty, Some("rnk"))
      .select("rnk", "bigram", "n_pairs", "n_x", "n_y", "lift")
  }

  /** Subword-fertility ledger — per source, how many subword tokens (the
    * [[tokenCounts]] BPE-ish regex) each whitespace word costs:
    * fertility = subword / word tokens, the tokenizer-health number a
    * multilingual corpus is audited on (a source whose fertility spikes
    * is one the tokenizer under-serves — its documents cost more context
    * window per word). Exact long sums per source; the fertility is ONE
    * IEEE division of two exact longs.
    *
    * Shape: one corpus pass (both counts from the same row projection),
    * one partial-agg shuffle on the low-cardinality source key. */
  def subwordFertility(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      size(toks).cast("long").as("_ws"),
      size(regexp_extract_all(col("text"),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
        .cast("long").as("_re"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("_ws").as("word_tokens"),
        sum("_re").as("subword_tokens"))
      .select(col("source"), col("n_docs"), col("word_tokens"),
        col("subword_tokens"),
        (col("subword_tokens").cast("double") / col("word_tokens"))
          .as("fertility"))
}
