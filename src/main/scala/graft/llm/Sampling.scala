package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.hash31
import graft.operators.CacheLifecycle

/** Deterministic sampling for corpus construction.
  *
  * A 100 TB pretraining build samples per stratum (language, source,
  * quality band) with different rates — and the selection must be
  * DETERMINISTIC so reruns, audits, and incremental rebuilds keep the same
  * documents (`rand()`-based sampling re-rolls every run and every retry of
  * a failed task). Selection here is the reference's own fault-injection
  * primitive (`shouldDrop`, `src/changefeed/model.ts:100-104`) pointed at
  * doc ids: keep iff `hash31(id) % 100 < floor(rate·100)` — a pure per-row
  * projection, no shuffle, reproducible in any engine with the same hash.
  */
object Sampling {

  /** Modulus for positional checksums ([[exportManifest]]'s
    * `stream_sum`): a fixed prime so the order-sensitive sum is
    * accumulated in bounded space on both the engine and the DuckDB
    * oracle side instead of overflowing BIGINT at shard sizes past a
    * few million documents. 2^30 − 35 keeps every reduced term under
    * 2^30, so a plain long sum is exact for ~2^33 rows per shard. */
  val ChecksumPrime: Long = 1073741789L

  /** Keep-decision column: stratum-dependent deterministic Bernoulli.
    * `rates` maps stratum value → keep rate in [0, 1] (floor(rate·100)
    * percent resolution — the reference's `shouldDrop` scaling). */
  def stratifiedKeep(
      idCol: Column,
      strataCol: Column,
      rates: Map[String, Double],
      defaultRate: Double = 0.0): Column = {
    def keep(rate: Double): Column =
      hash31(idCol.cast("string")) % 100 < lit(math.floor(rate * 100).toLong)
    rates.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), lit(false))) { case (acc, (s, r)) =>
        acc.when(strataCol === s, keep(r))
      }
      .otherwise(keep(defaultRate))
  }

  /** Per-stratum sampling report over `documents`: total, kept, and the
    * applied rate — the audit table a sampled corpus ships with. One scan,
    * one partial-agg shuffle keyed by the (low-cardinality) stratum. */
  def stratifiedSummary(
      docs: DataFrame,
      rates: Map[String, Double],
      defaultRate: Double = 0.0): DataFrame = {
    val kept = stratifiedKeep(col("doc_id"), col("lang"), rates, defaultRate)
    docs
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(kept, 1)).as("n_kept"))
      .withColumn("kept_frac",
        col("n_kept").cast("double") / col("n_docs"))
  }

  /** Domain-mixture sampling weights — temperature-scaled source mixing
    * (the multilingual-sampling / data-mixture recipe: sample domain d with
    * probability ∝ n_d^α, α < 1 flattening the head so low-resource domains
    * are upweighted; Conneau & Lample 2019 §3.1 use the same form for
    * languages). α is fixed at 1/2: `sqrt` is an exactly-rounded IEEE op in
    * every engine, where a libm `pow(x, 0.7)` may differ in the last ulp
    * between JVM and C++.
    *
    * Oracle-exact at any parallelism: per-source token sums are BIGINT
    * (associative), the sqrt is quantized to an integer grid
    * (`floor(sqrt·2^20)` — the same trick as the IVF k-means means) so the
    * cross-source total is again an exact BIGINT sum, and each output
    * fraction is ONE double division of two exact integers. No
    * re-associated floating-point sums anywhere.
    *
    * Shape at 100 TB: one scan, one partial-agg shuffle keyed by the
    * low-cardinality source, then a 1-row broadcast of the totals. */
  /** Materialize the temperature-mixture corpus: turn [[mixtureWeights]]'
    * α=1/2 weights into per-source keep rates against a token budget,
    * sample deterministically ([[stratifiedKeep]]'s hash grid), and emit
    * the audit table the build ships with — per source: inputs, target,
    * applied rate, and what the sample actually achieved.
    *
    * All integer-exact: target_i = targetTokens·s_i div Σs (BIGINT
    * products of exact integers), rate = min(100, 100·target div
    * n_tokens) on the same percent grid as the reference's `shouldDrop`.
    * A weight that calls for MORE than 1× a source (upsampling the tail)
    * caps at rate 100 — duplication is epoch repetition at training time,
    * not a storage operation — and the audit's kept_tokens vs
    * target_tokens shows the shortfall instead of hiding it. kept_tokens
    * differs from target by sampling variance; that, too, is the point of
    * shipping the audit.
    *
    * Shape: one source-keyed partial agg (rates), one broadcast of the
    * |sources|-row rate table back onto the corpus stream, one more
    * source-keyed partial agg (audit). The corpus is scanned twice and
    * never shuffled on anything higher-cardinality than `source`. */
  def materializeMixture(docs: DataFrame, targetTokens: Long): DataFrame = {
    val perSource = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("_toks").as("n_tokens"))
      .withColumn("_s",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1048576.0)).cast("long"))
    val totals = perSource.agg(sum("_s").as("_tot_s"))
    val rates = perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr(s"CAST($targetTokens AS BIGINT) * _s div _tot_s").as("target_tokens"))
      .withColumn("rate_pct",
        least(lit(100L), expr("100 * target_tokens div n_tokens")))
    val kept = docs
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("_toks"))
      .join(broadcast(rates.select("source", "rate_pct")), "source")
      .filter(hash31(col("doc_id").cast("string")) % 100 < col("rate_pct"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("_toks").as("kept_tokens"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("target_tokens"), col("rate_pct"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .withColumn("fill_frac",
        when(col("target_tokens") > 0,
          col("kept_tokens").cast("double") / col("target_tokens")))
  }

  /** Deterministic weighted priority sampling — k winners per source with
    * inclusion probability increasing in document weight (token count):
    * the "exponential race" shape of Efraimidis–Spirakis A-Res, made
    * integer-exact so any engine reproduces the same sample. Each doc's
    * priority is `(hash31(doc_id)·2²⁰) div n_tokens` — a BIGINT division
    * of exact integers (hash < 2³⁰, so the product is < 2⁵⁰; no float
    * `u^(1/w)` and its libm `pow` divergence) — and the k smallest
    * priorities per source win, ties broken by doc_id. A heavier doc
    * divides its hash by more, lands lower, wins more often; rerunning,
    * re-partitioning or rebuilding one source never changes a winner.
    *
    * Shape at 100 TB: priority is a pure projection; per-source top-k is
    * a source-keyed window — and because only k rows per source survive,
    * the production form pre-filters with a per-partition local top-k
    * before the shuffle (Spark's TakeOrderedAndProject does exactly this
    * for the global case). */
  def prioritySample(docs: DataFrame, k: Int = 10,
      modulus: Long = 1073741789L): DataFrame = {
    val weighted = docs.select(
      col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val prioritized = weighted
      .withColumn("_hp", hash31(col("doc_id").cast("string"), modulus) * lit(1048576L))
      .withColumn("priority", expr("_hp div n_tokens"))
    val w = Window.partitionBy("source").orderBy(col("priority"), col("doc_id"))
    prioritized
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("doc_id"), col("n_tokens"), col("priority"))
  }

  /** Deterministic train/val/test assignment — the split a 100 TB corpus
    * build must make REPRODUCIBLY: re-running the pipeline, adding a
    * source, or rebuilding one partition must never move a document
    * between splits (a val document leaking into train on a rebuild is
    * silent contamination). Assignment is a pure projection of the
    * document id — `hash31(doc_id) % 100` against cumulative percent
    * cutoffs — so it is stable under re-partitioning, retries, and
    * incremental rebuilds, and any engine with the same hash reproduces
    * it.
    *
    * Returns the per-(source, split) audit: document and token counts and
    * the realized fraction vs the requested one — the table a split ships
    * with so drift from the hash grid's granularity is visible, not
    * assumed away.
    *
    * Shape: one scan, one partial-agg shuffle on the low-cardinality
    * (source, split) key. The assignment column itself (`splitFor`) is
    * shuffle-free and composes into any downstream write
    * (`partitionBy("split")`). */
  def splitFor(idCol: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    val h = hash31(idCol.cast("string")) % 100
    when(h < trainPct, "train")
      .when(h < trainPct + valPct, "val")
      .otherwise("test")
  }

  def splitSummary(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame =
    docs
      .select(col("source"),
        splitFor(col("doc_id"), trainPct, valPct).as("split"),
        size(split(col("text"), " ")).cast("long").as("_toks"))
      .groupBy("source", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("_toks").as("n_tokens"))
      .withColumn("frac_docs",
        col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy("source")))

  def mixtureWeights(docs: DataFrame): DataFrame = {
    val perSource = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("_toks").as("n_tokens"))
      .withColumn("_s",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1048576.0)).cast("long"))
    val totals = perSource.agg(
      sum("n_tokens").as("_tot_tokens"), sum("_s").as("_tot_s"))
    perSource.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("_tot_tokens")).as("raw_share"),
        (col("_s").cast("double") / col("_tot_s")).as("mix_weight"),
        ((col("_s").cast("double") / col("_tot_s")) /
          (col("n_tokens").cast("double") / col("_tot_tokens"))).as("upsample"))
  }

  /** Curriculum mixture schedule — the data-scheduling half of mixture
    * design: per training phase `s ∈ [0, steps)`, the per-source sampling
    * weight interpolates linearly from the NATURAL token share (phase 0
    * matches the corpus, cheap early tokens) to the UNIFORM share
    * `1/n_sources` (final phase equalizes the rare sources — the standard
    * temperature-annealing endpoint at τ → ∞). `frac = s/(steps-1)` and
    * `w = raw + (uniform − raw)·frac` are each a fixed chain of IEEE
    * ops on exact integer inputs, bit-stable across engines; expected
    * tokens per (phase, source) is one further multiply against the
    * per-phase budget `total_tokens/steps`.
    *
    * Shape: one source-keyed partial agg + a 1-row totals broadcast,
    * then a constant `steps`-element `sequence` explode on the (tiny)
    * per-source frame — the corpus is scanned once, nothing wide ever
    * touches per-document rows. */
  def mixSchedule(docs: DataFrame, steps: Int = 5): DataFrame = {
    require(steps >= 2, "a schedule needs at least a start and an end phase")
    val perSource = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("_toks"))
      .groupBy("source")
      .agg(sum("_toks").as("n_tokens"))
    val totals = perSource.agg(
      sum("n_tokens").as("_tot"), count(lit(1)).as("_n_src"))
    perSource.crossJoin(broadcast(totals))
      .withColumn("phase", explode(sequence(lit(0), lit(steps - 1))))
      .withColumn("_raw", col("n_tokens").cast("double") / col("_tot"))
      .withColumn("_uni", lit(1.0) / col("_n_src"))
      .withColumn("_frac", col("phase").cast("double") / lit((steps - 1).toDouble))
      .withColumn("weight", col("_raw") + (col("_uni") - col("_raw")) * col("_frac"))
      .withColumn("phase_tokens",
        col("weight") * (col("_tot").cast("double") / lit(steps.toDouble)))
      .select(col("phase").cast("long").as("phase"), col("source"),
        col("n_tokens"), col("weight"), col("phase_tokens"))
  }

  /** UniMax epoch-capped uniform allocation (Chung et al. 2023): split a
    * token `budget` across sources as EQUALLY as possible, subject to no
    * source repeating more than `maxEpochs` times — the mixture recipe
    * that replaces temperature tuning with an explicit repeat cap. The
    * classic water-filling solution: sort sources ascending by cap
    * `maxEpochs·n_tokens`; a source is CAPPED iff granting it (and, by
    * monotonicity, every prefix source) its full cap still leaves the
    * per-survivor equal share at-or-above its cap —
    * `cap·(n−rank+1) ≤ budget − prefix_cap_mass`, a pure INTEGER
    * comparison, so the capped set is bit-stable across engines. Every
    * uncapped source then gets the exact equal share
    * `λ* = (budget − capped_mass) / n_uncapped` (one double division;
    * capped rows allocate their integer cap). `epochs = alloc/n_tokens`
    * lands exactly on `maxEpochs` for capped rows.
    *
    * Scale shape: one source-keyed partial agg reduces the corpus to one
    * row per source; the water-filling windows run on that tiny frame
    * (single-partition by construction — sources number in the dozens,
    * not millions), and nothing wide ever re-touches per-document rows. */
  def unimaxAllocation(
      docs: DataFrame,
      budgetTokens: Long = 100000L,
      maxEpochs: Int = 4): DataFrame = {
    val perSource = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("_toks").as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * maxEpochs)
    val totals = perSource.agg(count(lit(1)).as("_n_src"))
    val ranked = graft.operators.BoundedWindow.cumulative(
      perSource.crossJoin(broadcast(totals)),
      struct(col("cap_tokens"), col("source")),
      Seq("cap_tokens" -> "_cum_cap"), Some("_rn"))
      .withColumn("_prev_cum", col("_cum_cap") - col("cap_tokens"))
      .withColumn("capped",
        col("cap_tokens") * (col("_n_src") - col("_rn") + 1L) <=
          lit(budgetTokens) - col("_prev_cum"))
    val closed = ranked.agg(
      sum(when(col("capped"), col("cap_tokens")).otherwise(0L)).as("_capped_mass"),
      sum(when(col("capped"), 0L).otherwise(1L)).as("_n_open"))
    ranked.crossJoin(broadcast(closed))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap_tokens").cast("double"))
          .otherwise((lit(budgetTokens) - col("_capped_mass")).cast("double") /
            col("_n_open")))
      .withColumn("epochs", col("alloc_tokens") / col("n_tokens"))
      .select("source", "n_docs", "n_tokens", "cap_tokens", "capped",
        "alloc_tokens", "epochs")
  }

  /** Temperature-scaled source mixing — the multilingual-sampling rule
    * (exponentiated size weighting, the mBERT/XLM-R `p_i ∝ n_i^τ`
    * recipe) with τ fixed to 1/2^`halvings`: up-weights low-resource
    * sources relative to proportional sampling without UniMax's hard
    * epoch cap ([[unimaxAllocation]] is the capped alternative; this is
    * the smooth one). τ is restricted to iterated square roots because
    * `sqrt` is the one power IEEE-754 requires CORRECTLY ROUNDED — both
    * engines produce bit-identical weights, where a general `pow(x, τ)`
    * may differ in the last ulp between libm implementations. The weight
    * is then quantized to an integer (`⌊√ⁿ·1000⌋`) so the cross-source
    * total is an exact long sum, never an order-sensitive float fold;
    * each output share/epoch is one exact division of that.
    *
    * Shape: one corpus scan collapsing to the per-source frame (dozens
    * of rows), a 1-row total broadcast — nothing wide after the first
    * aggregate. */
  def temperatureAllocation(
      docs: DataFrame,
      budgetTokens: Long = 100000L,
      halvings: Int = 1): DataFrame = {
    require(halvings >= 1, s"halvings must be >= 1, got $halvings")
    val root = (1 to halvings).foldLeft(col("n_tokens").cast("double")) {
      case (c, _) => sqrt(c)
    }
    // the |sources|-row mass frame feeds both the ledger and its weight
    // total: scaffolded so the denominator does not re-tokenize the corpus
    val perSource = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("_toks").as("n_tokens"))
      .withColumn("weight_q", floor(root * 1000.0).cast("long"))
      .transform(CacheLifecycle.scaffold)
    val totals = perSource.agg(sum("weight_q").as("_w_total"))
    perSource.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("weight_q"),
        (col("weight_q").cast("double") / col("_w_total")).as("share"),
        (col("weight_q").cast("double") * budgetTokens / col("_w_total"))
          .as("alloc_tokens"),
        (col("weight_q").cast("double") * budgetTokens /
          (col("_w_total").cast("double") * col("n_tokens"))).as("epochs"))
  }

  /** DSIR-style importance scoring (Data Selection via Importance
    * Resampling, Xie et al. 2023) with a RATIONAL affinity in place of the
    * paper's log-likelihood ratio: per document, `target_mass` =
    * Σ_occurrences count_target(word) and `corpus_mass` =
    * Σ_occurrences count_corpus(word) are exact integer sums (order-free
    * and engine-portable, where a sum of logs drifts in the last ulp
    * between engines), and `affinity = target_mass / corpus_mass` is one
    * exact double division — the occurrence-weighted fraction of each
    * word's corpus mass that lives in the target slice. A doc written in
    * the target distribution's vocabulary scores near the target's corpus
    * share; off-distribution vocabulary pulls it toward 0; resampling
    * keeps the top of the ranking ([[importanceResample]]).
    *
    * Scale shape: same skeleton as `TextAnalysis.noveltyStats` — one
    * word-keyed shuffle (a window computes both masses in place; no
    * side table, no second word-keyed join) then one doc-keyed partial
    * agg. Word keys are Zipf-skewed, but per-key window state is two
    * running counts, so hot keys cost shuffle bandwidth, not memory. */
  def importanceAffinity(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    val w = Window.partitionBy("word")
    docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("_corpus_c", count(lit(1)).over(w))
      .withColumn("_target_c",
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).over(w))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum("_target_c").as("target_mass"),
        sum("_corpus_c").as("corpus_mass"))
      .withColumn("affinity",
        col("target_mass").cast("double") / col("corpus_mass"))
  }

  /** The resampling half of DSIR: the top `k` documents by
    * `(affinity desc, doc_id)` — doc_id breaks exact-double ties, so the
    * selection is total-ordered and reproducible — reported with each
    * winner's stratum columns so the audit shows what the importance
    * weights actually selected (the classic failure being a "target
    * English" resample that quietly picks one source).
    *
    * Scale shape: the ledger is one row per doc; the top-k is
    * `orderBy(...).limit(k)` — Spark's TakeOrderedAndProject, a per-
    * partition heap + driver merge of k·partitions rows, never a global
    * sort. The rank column is minted AFTER the limit, over the k-row
    * result (single-partition window on k rows, not on the corpus). */
  def importanceResample(
      docs: DataFrame, targetLang: String = "en", k: Int = 50): DataFrame = {
    val aff = importanceAffinity(docs, targetLang)
    val top = aff
      .join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
      .orderBy(col("affinity").desc, col("doc_id"))
      .limit(k)
    graft.operators.BoundedWindow.cumulative(
      top, struct((-col("affinity")).as("_na"), col("doc_id")),
      Seq.empty, Some("rnk"))
      .select("rnk", "doc_id", "lang", "source", "n_words",
        "target_mass", "corpus_mass", "affinity")
  }

  /** Deterministic training-shard shuffle — the LAST step of a corpus
    * build: every document gets a pseudo-random position in one of
    * `nShards` output shards, so data loaders stream shards sequentially
    * and still see a well-mixed order. The shuffle key is
    * `hash31(doc_id ‖ ':' ‖ seed)` — a pure projection of the id, so the
    * assignment is reproducible under re-partitioning, retries and
    * incremental rebuilds, and re-seeding is a one-integer change that
    * re-mixes every shard. Shard = key mod nShards; position = rank of
    * (key, doc_id) within the shard (doc_id breaks hash collisions, so
    * the order is total and engine-portable).
    *
    * Scale shape: the key is shuffle-free; the per-shard position is a
    * shard-keyed window — one shuffle on a uniform key (hash31 spreads
    * doc ids evenly; no hot shard), each shard sorted within its own
    * partition, which is exactly the order the shard file is written in.
    * At 100 TB this is `repartition(nShards, shard)` + in-partition sort
    * + per-shard file write: one pass, no global sort. */
  private def shardKeyed(docs: DataFrame, nShards: Int,
      seed: Int, modulus: Long): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      hash31(concat(col("doc_id").cast("string"), lit(":" + seed)), modulus)
        .as("shuffle_key"))
      .withColumn("shard", (col("shuffle_key") % nShards).cast("long"))

  def shardAssign(docs: DataFrame, nShards: Int = 16,
      seed: Int = 42, modulus: Long = 1000003L): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("shuffle_key"), col("doc_id"))
    shardKeyed(docs, nShards, seed, modulus)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos", "shuffle_key", "n_tokens")
  }

  /** Per-shard balance ledger for [[shardAssign]] — the audit a shard
    * write ships with: document count, token mass, and each shard's token
    * share vs the uniform 1/nShards target. A loader reading shards
    * round-robin gets per-step token throughput proportional to shard
    * mass, so imbalance here is training-step jitter; the hash key keeps
    * the expected deviation O(1/√(docs/shard)). One shard-keyed partial
    * agg + a 1-row totals broadcast — nothing per-document survives. */
  def shardStats(docs: DataFrame, nShards: Int = 16, seed: Int = 42): DataFrame = {
    // the nShards-row aggregate feeds both the ledger and its own total:
    // scaffolded so the share denominator does not re-key the corpus
    val perShard = shardKeyed(docs, nShards, seed, 1000003L)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .transform(CacheLifecycle.scaffold)
    val totals = perShard.agg(sum("n_tokens").as("_tot"))
    perShard.crossJoin(broadcast(totals))
      .select(
        col("shard"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("_tot")).as("token_share"),
        (col("n_tokens").cast("double") / col("_tot") * nShards).as("balance"))
  }

  /** Per-shard write manifest for [[shardAssign]] — the ledger a shard
    * file ships with so a reader can verify content AND order without
    * re-reading the corpus:
    *
    *   - `content_sum` — Σ digest over the shard's documents, order-FREE
    *     (verifies the member set survived the write);
    *   - `stream_sum`  — Σ digest·pos, order-SENSITIVE (verifies the
    *     in-shard sequence: any swap of two distinct-digest rows moves
    *     it) — the positional checksum that catches a shuffled rewrite a
    *     content checksum accepts.
    *
    * Both are exact integer arithmetic on the 2^20-quantized digest
    * `hash31(md5(text))`. Each product digest·pos stays well inside the
    * long range (digest < 2^20, pos ≤ docs/shard), but the SUM of those
    * products does not at corpus scale, so `stream_sum` is accumulated
    * modulo [[ChecksumPrime]] on both the engine and the oracle side:
    * every per-row term is < 2^30, so the running long sum is exact up
    * to ~2^33 docs per shard before the final reduction — far past any
    * real shard. One window (the shardAssign position) + one shard-keyed
    * aggregate. */
  def exportManifest(docs: DataFrame, nShards: Int = 16,
      seed: Int = 42, modulus: Long = 1000003L): DataFrame = {
    val keyed = docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      hash31(concat(col("doc_id").cast("string"), lit(":" + seed)), modulus)
        .as("shuffle_key"),
      hash31(md5(col("text")), 1048576L).as("digest"))
      .withColumn("shard", (col("shuffle_key") % nShards).cast("long"))
    val w = Window.partitionBy("shard").orderBy(col("shuffle_key"), col("doc_id"))
    keyed
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("digest").as("content_sum"),
        (sum((col("digest") * col("pos")) % ChecksumPrime) % ChecksumPrime)
          .as("stream_sum"))
  }

  /** Cluster-aware train/val/test split — the leakage guard a 100 TB
    * corpus build needs on top of [[splitFor]]: near-duplicate documents
    * of a val/test document leaking into train is silent contamination
    * (the model trains on a paraphrase of its eval set). Assignment here
    * hashes the near-dup CLUSTER id, not the document id, so an entire
    * duplicate cluster lands in one split by construction.
    *
    * Returns the per-split ledger plus the audit that justifies the
    * operator: `leaked_pairs` — same-cluster document pairs straddling
    * two splits — is 0 under the guarded assignment and is reported
    * side-by-side with `leaked_pairs_naive`, the count the doc-id hash
    * split would have produced on the same corpus (computed from cluster
    * member counts alone: C(n,2) − Σ_split C(n_s,2) per cluster — the
    * candidate pair set itself is never re-materialized). `docs_moved`
    * counts documents whose split changed vs the naive grid.
    *
    * Scale shape: the cluster index is the amortized build-once artifact
    * ([[Clusters.indexWrite]]); this operator is one broadcast-joinable
    * lookup (index is |docs| rows but only (doc_id, cluster_id) wide) +
    * two low-cardinality aggregates. Nothing here re-runs contraction. */
  def leakageGuardSplit(docs: DataFrame, clusters: DataFrame,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    // four subtrees consume this frame (guard leak, naive leak, moved,
    // per-split ledger): scaffolded — projected to the four columns they
    // read — so the doc↔cluster join and token count run ONCE, not 4×
    val assigned = docs
      .join(clusters.select("doc_id", "cluster_id"), Seq("doc_id"))
      .select(
        col("cluster_id"),
        size(split(col("text"), " ")).cast("long").as("_toks"),
        splitFor(col("cluster_id"), trainPct, valPct).as("split"),
        splitFor(col("doc_id"), trainPct, valPct).as("naive_split"))
      .transform(CacheLifecycle.scaffold)
    // same-cluster pairs straddling splits, as integer arithmetic on
    // cluster member counts (C(n,2) − Σ_split C(n_s,2) per cluster — the
    // pair set is never re-materialized): computed for BOTH assignments,
    // so the 0 under the guard is measured, not asserted
    def crossSplitPairs(splitCol: String, as: String) = assigned
      .groupBy(col("cluster_id"), col(splitCol)).agg(count(lit(1)).as("ns"))
      .groupBy("cluster_id")
      .agg(sum("ns").as("n"), sum(col("ns") * (col("ns") - 1)).as("intra2"))
      .agg(expr("(sum(n * (n - 1)) - sum(intra2)) div 2").as(as))
    val guardLeak = crossSplitPairs("split", "leaked_pairs")
    val naiveLeak = crossSplitPairs("naive_split", "leaked_pairs_naive")
    val moved = assigned
      .agg(count(when(col("split") =!= col("naive_split"), 1)).as("docs_moved"))
    assigned
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("_toks").as("n_tokens"),
        countDistinct("cluster_id").as("n_clusters"))
      .crossJoin(broadcast(guardLeak))
      .crossJoin(broadcast(naiveLeak))
      .crossJoin(broadcast(moved))
  }

  /** Split-contamination matrix — [[leakageGuardSplit]]'s audit expanded
    * to the full split × split grid: under the NAIVE doc-id hash split
    * (the assignment that LEAKS), how many same-cluster document pairs
    * land with one member in split A and one in split B? The off-diagonal
    * cells are the contamination a doc-hash split ships (train×test is
    * the one that invalidates evals); the diagonal holds the intra-split
    * pair counts for scale. All integer arithmetic on per-(cluster,
    * split) member counts — the pair set is never materialized: diagonal
    * = Σ C(n_a, 2), off-diagonal = Σ n_a·n_b per cluster.
    *
    * Shape: one doc-keyed index join, one (cluster, split) aggregate,
    * then a cluster-keyed self-join of that cluster×3-cardinality frame
    * and a ≤ 6-row rollup. */
  def contaminationMatrix(docs: DataFrame, clusters: DataFrame,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    // both sides of the self-join read this (cluster, split) aggregate
    // through one exchange, which the planner reuses, so the doc↔cluster
    // join runs once, not per side
    val counts = docs
      .join(clusters.select("doc_id", "cluster_id"), Seq("doc_id"))
      .select(col("cluster_id"),
        splitFor(col("doc_id"), trainPct, valPct).as("split"))
      .groupBy("cluster_id", "split").agg(count(lit(1)).as("_n"))
    val a = counts.select(col("cluster_id"), col("split").as("split_a"),
      col("_n").as("_na"))
    val b = counts.select(col("cluster_id"), col("split").as("split_b"),
      col("_n").as("_nb"))
    a.join(b, Seq("cluster_id"))
      .filter(col("split_a") <= col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(sum(
        when(col("split_a") === col("split_b"),
          expr("_na * (_na - 1) div 2"))
          .otherwise(col("_na") * col("_nb"))).as("n_pairs"))
  }

  /** Cluster-aware k-fold assignment — cross-validation's version of the
    * [[leakageGuardSplit]] guarantee: fold = `hash31(cluster_id) % k`, so
    * an entire near-dup cluster lands in ONE fold and no fold's held-out
    * slice contains a paraphrase of another fold's training data. Returns
    * the per-fold ledger (docs, tokens, clusters, token share, balance vs
    * the uniform 1/k target) — the table read before trusting a CV score:
    * hash assignment keeps the expected imbalance O(1/√(clusters/fold)),
    * and a fold row far off 1.0 means one giant cluster owns it.
    *
    * Shape: one doc-keyed index join (the amortized build-once cluster
    * index — contraction never re-runs), one k-row aggregate with
    * map-side combine, a 1-row totals broadcast. */
  /** Temporal train/test split with a user-leakage audit — the split an
    * events-derived training set actually needs: train on days strictly
    * before the midpoint cut, evaluate on days at-or-after it (all
    * integer day arithmetic: cut = `(min_day + max_day + 1) div 2`, so
    * the cut is derived from the data and reproducible). The audit is
    * `n_users_both` / `user_leak_frac`: users active on BOTH sides of
    * the cut — a temporally-split eval is not independent for them (the
    * model saw their earlier behavior), the events-side analogue of
    * [[leakageGuardSplit]]'s paraphrase leak. Unlike the hash splits the
    * leak here is inherent, so it is REPORTED, not prevented.
    *
    * Shape: ONE pass — a 1-row bounds broadcast, one user-keyed
    * conditional aggregate (map-side combine), then a 1-row rollup that
    * already holds BOTH splits' counts (per-split events as Σ per-user
    * counts, per-split users as conditional user counts), unpivoted into
    * the 2-row ledger with `explode` — the feed crosses the wire keyed
    * by user once and nothing is scanned twice. */
  def temporalSplit(events: DataFrame): DataFrame = {
    val day = expr("(ts div 1000000) div 86400000")
    val evd = events.select(col("user_id"), day.as("_d"))
    val bounds = evd.agg(min("_d").as("_lo"), max("_d").as("_hi"))
    val perUser = evd.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        (col("_d") < expr("(_lo + _hi + 1) div 2")).as("_is_tr"))
      .groupBy("user_id")
      .agg(
        count(when(col("_is_tr"), 1)).as("_tr"),
        count(when(!col("_is_tr"), 1)).as("_te"))
    perUser
      .agg(
        sum("_tr").as("_ev_tr"), sum("_te").as("_ev_te"),
        count(when(col("_tr") > 0, 1)).as("_u_tr"),
        count(when(col("_te") > 0, 1)).as("_u_te"),
        count(when(col("_tr") > 0 && col("_te") > 0, 1)).as("n_users_both"),
        count(lit(1)).as("_u_total"))
      .select(
        explode(array(
          struct(lit("train").as("split"), col("_ev_tr").as("n_events"),
            col("_u_tr").as("n_users")),
          struct(lit("test").as("split"), col("_ev_te").as("n_events"),
            col("_u_te").as("n_users")))).as("_r"),
        col("n_users_both"), col("_u_total"))
      .select(col("_r.split").as("split"), col("_r.n_events").as("n_events"),
        col("_r.n_users").as("n_users"), col("n_users_both"),
        (col("n_users_both").cast("double") / col("_u_total"))
          .as("user_leak_frac"))
  }

  def kfoldClustered(docs: DataFrame, clusters: DataFrame,
      k: Int = 5): DataFrame = {
    val assigned = docs
      .join(clusters.select("doc_id", "cluster_id"), Seq("doc_id"))
      .select(
        (hash31(col("cluster_id").cast("string")) % k).as("fold"),
        col("cluster_id"),
        size(split(col("text"), " ")).cast("long").as("_toks"))
    // the k-row fold aggregate feeds both the ledger and its own total:
    // scaffolded so the denominator does not re-run the doc↔cluster join
    val perFold = assigned.groupBy("fold").agg(
      count(lit(1)).as("n_docs"),
      sum("_toks").as("n_tokens"),
      countDistinct("cluster_id").as("n_clusters")).transform(CacheLifecycle.scaffold)
    val totals = perFold.agg(sum("n_tokens").as("_tot"))
    perFold.crossJoin(broadcast(totals))
      .select(col("fold"), col("n_docs"), col("n_tokens"), col("n_clusters"),
        (col("n_tokens").cast("double") / col("_tot")).as("token_share"),
        (col("n_tokens").cast("double") / col("_tot") * k).as("balance"))
  }

  /** Deterministic per-source uniform `k`-sample — the distributed
    * replacement for reservoir sampling. A classic reservoir is
    * sequential (its result depends on arrival order, so a re-run after
    * a task retry or an AQE re-plan keeps DIFFERENT rows); ranking by a
    * per-row hash keeps the same statistical guarantee (each source row
    * equally likely under the hash's uniformity) while being
    * arrival-order-free, restart-stable, and incremental — a new batch
    * can only displace rows with larger hashes, which is exactly the
    * bottom-k sketch's merge rule.
    *
    * One scan, one source-partitioned window rank (hash ties broken by
    * doc_id, so the sample is a pure function of the id set). The large
    * prime modulus keeps hash collisions — and therefore tie-break bias —
    * negligible. */
  def reservoirSample(docs: DataFrame, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        hash31(col("doc_id").cast("string"), 104729L).as("h"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk").cast("long").as("rnk"),
        col("doc_id"), col("h"))
  }
}
