package graft.queries

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The capstone composition of the training-data tier: select the
  * training corpus. A document makes the cut when it
  *   (a) survives deduplication (d9's cluster survivor — exactly one
  *       doc per near-dup cluster),
  *   (b) is identified as English (t6's marker-lexicon argmax), and
  *   (c) passes the quality band (t5's metrics: length, stopword
  *       ratio, type-token ratio, token shape).
  * This is the query a 100 TB pipeline actually runs end-to-end; every
  * stage is the already-oracle-checked operator, composed — hash
  * aggregates + one broadcast-size join against the survivor labels,
  * no new shuffle shapes. Thresholds sit inside the observed metric
  * distributions so the filter is live at every SF.
  *
  * All quality ratios are IEEE divisions of exact integer counts, so
  * the threshold comparisons agree bit-for-bit with the DuckDB oracle.
  */
object TrainingSet {

  val MinTokens = 20L
  val MinStopRatio = 0.02
  val MinTypeTokenRatio = 0.35
  val MinAvgLen = 3.0
  val MaxAvgLen = 6.0

  def select(spark: SparkSession, dir: String): DataFrame = {
    // quality metrics AND language-ID hits share the grouping key — one
    // words scan + one hash aggregate computes both (separately they
    // are t5 and t6; composed, two scans of the widest relation would
    // be pure waste)
    val langHits = TextOps.LangLexicons.map { case (l, lex) =>
      sum(when(col("word").isin(lex: _*), 1L).otherwise(0L)).as(s"hits_$l")
    }
    val aggCols = Seq(
      count(lit(1)).as("n_tokens"),
      sum(length(col("word"))).as("sum_len"),
      sum(when(col("word").isin(TextOps.EnStop: _*), 1L).otherwise(0L))
        .as("n_stop"),
      countDistinct(col("word")).as("n_distinct")) ++ langHits
    val metrics = TextOps.cachedWords(spark, dir)
      .groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val langs = TextOps.LangLexicons.map(_._1)
    val predicted = langs.foldRight(lit("und")) { (l, rest) =>
      val mine = col(s"hits_$l")
      val isMax = langs.filter(_ != l)
        .map(o => mine >= col(s"hits_$o"))
        .foldLeft(lit(true))(_ && _)
      when(isMax && mine > 0, lit(l)).otherwise(rest)
    }
    val quality = metrics.select(
      col("doc_id"),
      col("n_tokens"),
      (col("sum_len").cast("double") / col("n_tokens").cast("double"))
        .as("avg_token_len"),
      (col("n_stop").cast("double") / col("n_tokens").cast("double"))
        .as("stopword_ratio"),
      (col("n_distinct").cast("double") / col("n_tokens").cast("double"))
        .as("type_token_ratio"),
      predicted.as("predicted_lang"))
    val survivors = Dedup.dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("is_survivor"))
    quality
      .join(survivors, "doc_id")
      .filter(
        col("is_survivor") &&
          col("predicted_lang") === "en" &&
          col("n_tokens") >= MinTokens &&
          col("stopword_ratio") >= MinStopRatio &&
          col("type_token_ratio") >= MinTypeTokenRatio &&
          col("avg_token_len") >= MinAvgLen &&
          col("avg_token_len") <= MaxAvgLen)
      .select(
        col("doc_id"), col("cluster_id"), col("n_tokens"),
        col("avg_token_len"), col("stopword_ratio"),
        col("type_token_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget sampling — the data-mixing step after selection: take
    * the best documents first (quality key descending) until the token
    * budget is spent. Budget here = half the corpus tokens, computed in-
    * query so the filter stays live at every SF. The running token total
    * over the global quality order uses operators.GlobalPrefix (two-
    * phase quantile-bucketed prefix scan) — no unpartitioned window, the
    * same discipline as q6. Quality key and cum tokens are exact
    * long/IEEE values, so the cut-off row is identical in both engines.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"),
        col("stopword_ratio"), col("type_token_ratio"))
      .withColumn(
        "neg_quality",
        -(col("stopword_ratio") + col("type_token_ratio")) / lit(2.0))
    val ranked = graft.operators.GlobalPrefix.withPrefix(
      q, col("neg_quality"), Seq(col("doc_id")), col("n_tokens"),
      // input is a projection of the persisted quality cache — re-reads
      // are cheap, a per-invocation checkpoint copy only churns storage
      checkpointInput = false)
      .withColumnRenamed("prefix", "cum_tokens")
    // integer `div`, never double `/`+cast: above 2^53 tokens (real at
    // 100 TB) the double rounds and can disagree with DuckDB's `//`
    val budget = q.agg(expr("sum(n_tokens) div 2").as("b"))
    ranked.crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("b"))
      .select(
        col("doc_id"), col("n_tokens"), col("cum_tokens"),
        (-col("neg_quality")).as("quality_key"))
      .orderBy(col("cum_tokens"))
  }

  /** p22 — p2's half-the-corpus token-budget selection re-run on REAL
    * tokenizer counts: the greedy quality-ordered prefix is unchanged,
    * but the budget currency is t25's BPE token ids per document
    * (`bpe_tokens`) instead of whitespace words — the form every
    * production pipeline actually budgets in (model context and
    * training FLOPs are counted in tokenizer tokens, and fertility
    * varies by document, so the whitespace prefix and the BPE prefix
    * select DIFFERENT documents near the cut). Consumes the
    * session-cached t25 encode (TextOps.cachedBpeTokens); the oracle
    * composes t25's certified oracle as a subquery (the s18
    * discipline), so this report is exactly as trustworthy as t25's
    * own gate.
    *
    * Scale shape: p2's — GlobalPrefix two-phase running sum (no
    * unpartitioned window), 1-row broadcast budget, and the
    * quality⋈tokens join is doc_id-keyed (docs-sized, not corpus
    * words).
    */
  def bpeTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.cachedBpeTokens(spark, dir)
    val q = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("stopword_ratio"), col("type_token_ratio"))
      .join(toks, "doc_id")
      .withColumn(
        "neg_quality",
        -(col("stopword_ratio") + col("type_token_ratio")) / lit(2.0))
    val ranked = graft.operators.GlobalPrefix.withPrefix(
      q, col("neg_quality"), Seq(col("doc_id")), col("bpe_tokens"))
      // checkpointInput stays ON here (measured both ways at sf0.1:
      // 1.03 s with the input checkpoint vs 1.38 s without) — unlike
      // p2/q6, the input is a JOIN of two caches, and recomputing that
      // join for the operator's second pass costs more than one
      // docs-sized checkpoint copy
      .withColumnRenamed("prefix", "cum_tokens")
    val budget = toks.agg(expr("sum(bpe_tokens) div 2").as("b"))
    ranked.crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("b"))
      .select(
        col("doc_id"), col("bpe_tokens"), col("cum_tokens"),
        (-col("neg_quality")).as("quality_key"))
      .orderBy(col("cum_tokens"))
  }

  /** Language-mix sampling — p2 per group: each language contributes
    * its best documents up to half of ITS token mass, so the corpus mix
    * preserves language proportions instead of letting one language
    * crowd out the budget. Per-group running sums are plain partitioned
    * windows (parallel by language) — the global-window problem p2
    * solves does not arise here. Uses the testdata `lang` column (the
    * label a real pipeline would take from t6).
    */
  def languageMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"),
        col("stopword_ratio"), col("type_token_ratio"))
      .join(documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .withColumn(
        "quality_key",
        (col("stopword_ratio") + col("type_token_ratio")) / lit(2.0))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality_key").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgets = q.groupBy(col("lang"))
      .agg(expr("sum(n_tokens) div 2").as("lang_budget"))
    q.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .join(broadcast(budgets), "lang")
      .filter(col("cum_tokens") <= col("lang_budget"))
      .select(
        col("lang"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"), col("quality_key"))
      .orderBy(col("lang"), col("cum_tokens"))
  }

  /** p24 — TEMPERATURE-scaled mixture weights (the alpha-sampling of
    * mT5 / XLM-R / BLOOM: sampling weight ∝ share^α, α < 1, so
    * low-resource languages are upsampled and the head is damped —
    * the knob every multilingual training mix is actually set with;
    * p3/p9 select at fixed proportions, this COMPUTES the
    * proportions). α = 1/2 here because sqrt is the IEEE-exact member
    * of the family (correctly rounded by both engines where a general
    * `pow` carries no cross-engine guarantee — the established
    * exactness discipline, documented trade).
    *
    * Exactness: share = IEEE division of exact BIGINT token counts;
    * weight = floor(sqrt(share)·1e9) nano-quantized (the t10
    * discipline), so the normalization sum is an EXACT integer;
    * per-language budget = T·w div Σw with the product held in
    * DECIMAL(38,0) (T = half the corpus tokens, p2's discipline; T can
    * reach ~1e19 at 100 TB and w ≤ 1e9, so the ≤29-digit product
    * exceeds BIGINT but fits decimal exactly; the integral divide
    * returns BIGINT);
    * `epochs` (budget/n — the upsampling factor the mix implies, >1 =
    * the low-resource tail trains multiple epochs) is one final IEEE
    * division.
    *
    * Scale shape: one hash agg to |langs| rows + two 1-row broadcasts
    * — everything after the agg is metadata-sized.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val perLang = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .join(documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("total"))
    val scored = perLang.crossJoin(broadcast(tot))
      .withColumn(
        "share",
        col("n_tokens").cast("double") / col("total").cast("double"))
      .withColumn("wq", floor(sqrt(col("share")) * lit(1e9)).cast("long"))
    scored
      .crossJoin(broadcast(scored.agg(sum(col("wq")).as("wq_sum"))))
      // DECIMAL(38,0) intermediate: total corpus tokens can reach
      // ~1e19 at 100 TB and wq ≤ 1e9, so the BIGINT product overflows
      // (and non-ANSI Spark would wrap SILENTLY to a negative budget).
      // decimal(38,0)·decimal(38,0) holds the ≤29-digit product
      // exactly; IntegralDivide on decimals returns BIGINT, so the
      // output schema is unchanged.
      .withColumn(
        "budget_tokens",
        expr("cast(total div 2 as decimal(38,0)) * wq div wq_sum"))
      .select(
        col("lang"), col("n_docs"), col("n_tokens"), col("share"),
        col("wq"), col("budget_tokens"),
        (col("budget_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("epochs"))
      .orderBy(col("lang"))
  }

  /** p25 — CLASSIFIER-gated corpus selection (the actual CCNet/GPT-3
    * pipeline shape: the learned quality filter — t26 — GATES the
    * corpus, and the curator reads the per-language keep/drop mass
    * before committing): every document scored by the trained NB
    * model, kept iff predicted head, reported as per-language exact
    * document and token masses + the kept fraction. This is t26's
    * production consumer the way p22/p23 are t25's — a learned-filter
    * decision expressed as engine aggregates, no driver loop.
    *
    * Exactness: counts and token sums are exact BIGINTs over t26's
    * oracle-pinned predictions; kept_token_frac is one IEEE division.
    * Scale shape: t26's inference pipeline + one docs⋈lang join + one
    * hash agg to ǀlangsǀ rows.
    */
  def classifierGate(spark: SparkSession, dir: String): DataFrame = {
    val pred = TextOps.qualityClassifier(spark, dir)
      .select(col("doc_id"), col("pred_head"))
    val kept = when(col("pred_head"), 1L).otherwise(0L)
    TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .join(documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .join(pred, "doc_id")
      .groupBy(col("lang"))
      .agg(
        sum(kept).as("n_kept"),
        sum(lit(1L) - kept).as("n_dropped"),
        sum(col("n_tokens") * kept).as("kept_tokens"),
        sum(col("n_tokens") * (lit(1L) - kept)).as("dropped_tokens"))
      .withColumn(
        "kept_token_frac",
        col("kept_tokens").cast("double")
          / (col("kept_tokens") + col("dropped_tokens")).cast("double"))
      .orderBy(col("lang"))
  }

  val NumShards = 8

  /** Content-addressed shard id — THE cross-engine-exactness-critical
    * expression, defined once per engine (p4 and p5 must never
    * disagree): md5 of the stringified doc id, first 15 hex digits as
    * a 60-bit int, mod NumShards.
    */
  private def shardOf(docId: org.apache.spark.sql.Column) =
    pmod(
      conv(substring(md5(docId.cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long"),
      lit(NumShards.toLong))

  private val shardSql =
    s"""CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        % $NumShards"""

  /** Deterministic shard assignment + balance audit — the write-side
    * step: training shards must be content-addressed (stable under
    * retries and re-runs, independent of physical partitioning), so the
    * shard id is an md5-derived hash of the doc id, never
    * `spark_partition_id`/round-robin. Emits per-shard doc and token
    * counts — the balance check run before a training job reads the
    * shards. (A real writer would follow with
    * `.write.partitionBy("shard")`.)
    */
  def shardStats(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .withColumn("shard", shardOf(col("doc_id")))
    q.groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("shard"))
  }

  val SeqLen = 2048L

  /** Sequence packing — documents greedily packed in deterministic
    * order into fixed-token training bins, per shard: bin index =
    * tokens-before-this-doc div SeqLen (the simple contiguous-fill
    * model; a doc straddling a boundary starts its bin — bins
    * overfill rather than split documents). Per-shard prefix sums are
    * shard-partitioned windows (parallel across shards — the packing
    * never needs global order, which is the point of sharding first).
    * Emits per-bin fill stats, the input to a packing-efficiency
    * check before training.
    */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .withColumn("shard", shardOf(col("doc_id")))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    q.withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", expr(s"tokens_before div $SeqLen"))
      .groupBy(col("shard"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("shard"), col("bin"))
  }

  /** p23 — p5's greedy sequence packing in the REAL token currency
    * (t25's BPE counts), the p22 treatment for the packing side: bins
    * are `SeqLen` tokenizer tokens, which is what the training job's
    * context window actually holds — whitespace-word bins mis-size
    * sequences by each document's fertility. Same content-addressed
    * shard + per-shard running-prefix shape (partitioned windows,
    * parallel by shard); the token source is the session-cached t25
    * encode and the oracle nests t25's certified string.
    */
  def bpeSequencePack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextOps.cachedBpeTokens(spark, dir)
      .withColumn("shard", shardOf(col("doc_id")))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    q.withColumn(
        "tokens_before", coalesce(sum(col("bpe_tokens")).over(w), lit(0L)))
      .withColumn("bin", expr(s"tokens_before div $SeqLen"))
      .groupBy(col("shard"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("bpe_tokens")).as("n_tokens"))
      .orderBy(col("shard"), col("bin"))
  }

  val BenchmarkDocs = 50L
  val ContaminationThreshold = 0.5

  /** p6 — benchmark decontamination, the train/test-overlap check every
    * training pipeline runs before a model ships: treat the lowest
    * `BenchmarkDocs` doc ids as the held-out benchmark, and flag any
    * training document whose distinct 3-gram shingles are ≥50%
    * contained in the benchmark's shingle set. Reuses the session-
    * cached df-capped shingles (the d2/d3 dedup unit); the benchmark
    * shingle set is tiny by construction (test sets always are), so
    * the containment probe is a broadcast semi-join — at 100 TB the
    * corpus streams, nothing shuffles by shingle.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    contaminationFrame(spark, dir).orderBy(col("doc_id"))

  /** p6's pipeline without the output sort — the p16/p26 gates consume
    * THIS (see Dedup.exactDedupFrame).
    */
  private[queries] def contaminationFrame(
      spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.cachedShingles(spark, dir)
    val bench = sh.filter(col("doc_id") < BenchmarkDocs)
      .select(col("sh")).distinct()
    val corpus = sh.filter(col("doc_id") >= BenchmarkDocs)
    val sizes = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hits = corpus.join(broadcast(bench), Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    sizes.join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_sh"),
        (coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_sh").cast("double")).as("contaminated_frac"))
      .filter(col("contaminated_frac") >= ContaminationThreshold)
  }

  val TargetDocs = 100L

  /** p7 — DSIR-style importance weights (data selection by importance
    * resampling): score every document by the mean per-token
    * log-likelihood ratio between a target-domain unigram LM (here the
    * lowest `TargetDocs` doc ids, Laplace-smoothed) and the corpus
    * unigram LM. High scorers read like the target domain; a real
    * pipeline samples proportionally to exp(score). Two frequency
    * aggregates + three 1-row broadcasts; per-token ratios are IEEE
    * divisions of exact integers and each log is floor-quantized to
    * nano-units before the exact sum (the t10 discipline), so the
    * per-doc mean is bit-identical cross-engine.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    // r18 opt: checkpointed output sort (operators.SortFirst scaladoc)
    graft.operators.SortFirst.checkpointedSort(
      dsirWeightsFrame(spark, dir), col("doc_id"))

  /** p7's pipeline without the output sort — what the broadcast audit
    * pins.
    */
  private[queries] def dsirWeightsFrame(
      spark: SparkSession, dir: String): DataFrame = {
    // r17 opt (guide §2.3 "aggregate before you shuffle"): every input
    // here rides the session-cached (doc_id, word, tf) TF frame instead
    // of raw word occurrences — the word-keyed frequency aggregates
    // shuffle per-doc TYPE rows (pre-combined on the doc layout), and
    // the final corpus pass weighs each type by tf instead of joining
    // every occurrence. Values are bit-identical: c_cnt/t_cnt are the
    // same exact integer counts (Σ tf over docs = occurrence count),
    // and per doc Σ_type tf·lr = Σ_occurrence lr on the same longs.
    val tf = TextOps.cachedTfidf(spark, dir)
      .select(col("doc_id"), col("word"), col("tf"))
    // ONE corpus aggregate for BOTH frequency tables (corpus + target
    // as a conditional sum — r17, guide §2.3/§2.4: the separate cfreq/
    // tfreq/ctot/ttot/vocab branches each re-scanned the corpus as an
    // independent broadcast job, five 32-task corpus stages per run),
    // lazily checkpointed so the scalar totals and the per-word weight
    // read ONE vocab-sized materialization. Values are bit-identical:
    // the conditional sum gives t_cnt = 0 where the old left join gave
    // null, and (coalesce(null,0)+1) = (0+1).
    val counts = tf.groupBy(col("word"))
      .agg(
        sum(col("tf")).as("c_cnt"),
        sum(when(col("doc_id") < TargetDocs, col("tf")).otherwise(0L))
          .as("t_cnt"))
      .localCheckpoint(eager = false)
    val stats = counts.agg(
      sum(col("c_cnt")).as("c_total"),
      sum(col("t_cnt")).as("t_total"),
      count(lit(1)).as("v"))
    // per-WORD weight assembled over the vocab-sized count frame, then
    // ONE corpus join (the t16 discipline): lr is a pure function of
    // the word's counts, so the same expression on the same counts is
    // bit-identical
    val lrOf = counts
      .crossJoin(broadcast(stats))
      .withColumn(
        "lr",
        floor(log(
          ((col("t_cnt") + 1).cast("double")
            / (col("t_total") + col("v")).cast("double"))
            / (col("c_cnt").cast("double") / col("c_total").cast("double")))
          * lit(1e9)).cast("long"))
      .select(col("word"), col("lr"))
    tf.join(lrOf, "word")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("lr") * col("tf")).as("s"),
        sum(col("tf")).as("n"))
      .select(
        col("doc_id"),
        col("n").as("n_tokens"),
        (col("s").cast("double") / (lit(1e9) * col("n").cast("double")))
          .as("avg_llr"))
  }

  /** p8 — quality-curriculum staging with epoch weighting, the
    * data-mixing knob of a training run (quality-bucketed curricula /
    * up-sampling high-quality sources, as in Llama-style "epochs over
    * quality tiers"): documents are bucketed into 3 stages by
    * type-token ratio at FIXED thresholds, each stage repeats for a
    * stage-specific number of epochs, and the output is the per-stage
    * audit (docs, raw tokens, effective tokens = tokens × epochs, mean
    * TTR).
    *
    * Fixed thresholds, not quantiles, keep the stage assignment a
    * per-row projection — no global sort or window at any scale; the
    * whole query is one hash aggregate over the cached quality frame.
    * Mean TTR uses the floor-quantize discipline (sum exact int
    * nano-units, divide once) — never a cross-engine AVG of doubles.
    */
  def qualityCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("type_token_ratio").as("ttr"))
      .withColumn(
        "stage",
        when(col("ttr") >= 0.6, 1L).when(col("ttr") >= 0.45, 2L).otherwise(3L))
      .withColumn(
        "epochs",
        when(col("stage") === 1L, 3L).when(col("stage") === 2L, 2L).otherwise(1L))
    q.groupBy(col("stage"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_tokens") * col("epochs")).as("effective_tokens"),
        sum(floor(col("ttr") * lit(1e9)).cast("long")).as("qsum"))
      .select(
        col("stage"),
        col("n_docs"),
        col("n_tokens"),
        col("effective_tokens"),
        (col("qsum").cast("double") / (lit(1e9) * col("n_docs").cast("double")))
          .as("avg_ttr"))
      .orderBy(col("stage"))
  }

  /** p9 — α-smoothed source-mixture weights (α = 1/2), the multilingual
    * /multi-domain sampling rule of mBERT/XLM-R-style pipelines
    * (Conneau & Lample 2019: sample domain i ∝ p_i^α): raw token share
    * per source is flattened by sqrt so small sources are up-sampled
    * and giant crawls stop dominating the mixture. Output is the
    * per-source audit (docs, tokens, normalized sampling weight).
    *
    * Shape: one hash aggregate to 20 source rows + a 1-row broadcast
    * total — nothing here grows with corpus size except the first
    * aggregate's scan. sqrt is correctly-rounded IEEE (identical
    * cross-engine); each sqrt is floor-quantized to integer nano-units
    * before the normalizing sum, so the weights divide exact longs.
    */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .join(documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
    val per = q.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn(
        "qs",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e9)).cast("long"))
    // normalizer over the POST-AGG source frame (metadata at any
    // scale), not a broadcast branch re-running the quality join
    per.withColumn("tot", sum(col("qs")).over(Window.partitionBy()))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        (col("qs").cast("double") / col("tot").cast("double")).as("mix_weight"))
      .orderBy(col("source"))
  }

  /** p10 — Bloom-filter decontamination, the 100 TB shape of p6: the
    * benchmark shingle set is folded into a fixed-size Bloom filter
    * (fpp 1%), broadcast to every task, and the corpus probes BITS
    * instead of joining a set. At p6's scale both broadcast fine; the
    * bloom's edge is a benchmark too big to broadcast exactly — 10⁹
    * shingles exact ≈ tens of GB, bloom at 1% ≈ ~1.2 GB, and the probe
    * is branch-free hashing inside the scan. Price: false POSITIVES
    * only — flagged docs ⊇ p6's (never misses real contamination; the
    * spec bounds the overshoot). Bench-only: the bit layout is
    * engine-private, so like x11/x12 the exact p6 is the oracle-checked
    * baseline next to it.
    *
    * The membership probe is Spark's `BloomFilterMightContain`
    * expression via [[graft.functions.BloomProbe]] (codegen'd in the
    * scan, no per-row lambda); string shingles have no expression
    * form, so BOTH sides hash through `xxhash64` first — determinism
    * is preserved and the 64-bit collision mass is vanishing next to
    * the bloom's own 1% fpp. The filter bytes ride the stage's
    * broadcast task binary, so 1000 executors still fetch them once
    * each.
    */
  def bloomContamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.cachedShingles(spark, dir)
    // the filter build is FIT-time control data (like the k-means
    // centroids / PQ codebooks): one build per (session, dir);
    // repeated calls measure the PROBE, which is the steady-state
    // operation
    val bfBytes = SessionCache.memo(spark, dir, "p6BenchBloomBytes") {
      val bench = sh.filter(col("doc_id") < BenchmarkDocs)
        .select(xxhash64(col("sh")).as("h")).distinct()
      val nBench = bench.count()
      graft.functions.BloomProbe.serialize(
        bench.stat.bloomFilter("h", math.max(nBench, 1L), 0.01))
    }
    val corpus = sh.filter(col("doc_id") >= BenchmarkDocs)
    val sizes = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hits = corpus.filter(
      graft.functions.BloomProbe.mightContainLong(
        bfBytes, xxhash64(col("sh"))))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    sizes.join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_sh"),
        (coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_sh").cast("double")).as("contaminated_frac"))
      .filter(col("contaminated_frac") >= ContaminationThreshold)
      .orderBy(col("doc_id"))
  }

  /** Shards per epoch for the p11 deterministic shuffle. */
  val ShuffleShards = 8

  /** p11 — deterministic epoch shuffle, the reproducible-training
    * ordering op: every epoch re-orders the corpus by a seeded content
    * hash (md5(epoch:doc_id)), so any node can recompute any shard's
    * order bit-for-bit — no RNG state, retries land identical bytes.
    *
    * Scale shape: the hash assigns a SHARD (top byte — the p4
    * content-addressed pattern) and position is a row_number WITHIN the
    * (epoch, shard) partition — shuffle into shards, sort inside each,
    * exactly how shuffled training shards are written; there is no
    * global window anywhere (a global row_number would serialize the
    * corpus through one task — the GlobalPrefix lesson).
    */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("skey"))
    documents(spark, dir).select(col("doc_id"))
      .withColumn("epoch", explode(typedLit(Seq(0, 1))))
      .withColumn(
        "skey",
        md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string")).cast("binary")))
      .withColumn(
        "shard",
        (conv(substring(col("skey"), 1, 2), 16, 10).cast("long")
          % ShuffleShards).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"), col("skey"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  /** Per-source keep rates for the p12 stratified sample; sources not
    * listed fall back to the default (the "everything else is mostly
    * noise" floor a real mixture applies to unvetted crawls).
    */
  val SampleRates: Seq[(String, Double)] = Seq("src0" -> 0.3, "src1" -> 0.6)
  val DefaultSampleRate = 0.05

  /** p12 — deterministic stratified (per-source Bernoulli) sampling:
    * keep a document iff its seeded content hash, mapped to [0,1),
    * falls under its source's rate. The downsampling op every mixture
    * rebalance runs ("cut crawl X to 30%") — and because the coin is
    * md5(seed:doc_id), not an RNG, the sample is reproducible on any
    * cluster, stable under retries, and any doc's membership is
    * auditable after the fact (the p11/p4 content-hash discipline).
    *
    * Scale shape: pure per-row projection + filter inside the scan —
    * no shuffle at all until the output sort; u = hash/2^60 is an exact
    * power-of-two division, so the keep decision is bit-identical
    * cross-engine.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(
      substring(
        md5(concat(lit("smp:"), col("doc_id").cast("string")).cast("binary")),
        1, 15),
      16, 10).cast("long").cast("double")
      / lit(1152921504606846976.0)) // 2^60 — exact division
    val rate = SampleRates.foldRight(lit(DefaultSampleRate)) {
      case ((src, r), acc) => when(col("source") === src, lit(r)).otherwise(acc)
    }
    documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("u", u)
      .filter(col("u") < rate)
      .orderBy(col("doc_id"))
  }

  /** Bits interleaved per dimension for the p13 z-value (32-bit z). */
  val ZBits = 16
  /** z >> 22 → 1024 contiguous-z buckets standing in for files. */
  val ZBucketShift = 22

  /** The interleave Σ_i bit_i(x)·4^i·(1) + bit_i(y)·4^i·(2) — shared
    * builder (`functions.ZOrder`) so p13's audit and the Delta
    * `OPTIMIZE ZORDER` write path stay bit-identical; only the
    * integer-division spelling differs per engine (`div` vs `//`).
    */
  private def zExprStr(x: String, y: String, div: (String, Long) => String): String =
    graft.functions.ZOrder.exprStr(x, y, ZBits, div)

  /** p13 — Z-order (Morton-curve) layout audit, the multi-dimensional
    * clustering behind Delta `OPTIMIZE ZORDER BY` / Iceberg sort
    * orders: interleave the bits of two scan dimensions (user_id,
    * event-time seconds), range-split the curve into contiguous
    * buckets (= files), and report each bucket's min/max span on BOTH
    * dimensions. The point at 100 TB: a linear sort clusters one
    * column perfectly and leaves the other's per-file span ≈ the full
    * domain, so min/max file stats prune only one predicate; z-sorted
    * files are tight on both, so EITHER `user_id = ?` or a time-range
    * predicate skips most files. The emitted spans are that claim,
    * measured.
    *
    * Scale shape: the z-value is a per-row integer projection (32
    * codegen'd arithmetic terms, no UDF), bucket stats are one hash
    * agg — and a real writer would `repartitionByRange(z)` and write;
    * the audit IS the layout computation minus the IO.
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val dim = 1L << ZBits
    val z = zExprStr(s"(user_id % $dim)", s"(tsec % $dim)",
      (v, p) => s"($v) div $p")
    // Event-time seconds via the schema-adaptive µs axis (Tables.eventsUs)
    // — exact integer division the oracle mirrors as epoch_us(ts)//1000000.
    eventsUs(spark, dir)
      .withColumn("tsec", expr("tus div 1000000"))
      .withColumn("zbucket", expr(s"($z) div ${1L << ZBucketShift}"))
      .groupBy(col("zbucket"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("user_id")).as("min_user"),
        max(col("user_id")).as("max_user"),
        min(col("tsec")).as("min_tsec"),
        max(col("tsec")).as("max_tsec"))
      .select(
        col("zbucket"), col("n_events"),
        col("min_user"), col("max_user"),
        (col("max_user") - col("min_user")).as("user_span"),
        col("min_tsec"), col("max_tsec"),
        (col("max_tsec") - col("min_tsec")).as("tsec_span"))
      .orderBy(col("zbucket"))
  }

  /** p13's oracle-side z expression (DuckDB `//` integer division). */
  private def zOracleExpr: String = {
    val dim = 1L << ZBits
    zExprStr(s"(user_id % $dim)", s"(tsec % $dim)", (v, p) => s"($v) // $p")
  }

  /** p14 — sequence-length histogram in power-of-two buckets: the
    * length-distribution diagnostic every training pipeline prints
    * before choosing a context length / packing strategy (p5's bin
    * size is a direct function of this shape — docs longer than the
    * bin fragment, docs far shorter waste padding).
    *
    * bucket = ⌊log2(n_tokens)⌋ computed as `length(bin(n)) - 1` —
    * pure integer string-length arithmetic both engines evaluate
    * identically (a float ln(n)/ln(2) would round untrustworthily at
    * exact powers of two). One hash agg over the cached quality frame.
    */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .withColumn("bucket", (length(bin(col("n_tokens"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("bucket"))

  /** p15 — dataset content digest, the reproducibility receipt every
    * versioned training corpus needs (HF dataset fingerprints, Delta/
    * Iceberg snapshot checksums): a content-addressed digest per shard
    * plus the corpus root, so "did anything change since the last
    * snapshot?" and "which shard diverged?" are one table compare, and
    * a retried/re-partitioned write proves byte-identity without
    * re-reading text.
    *
    * Digest = XOR-fold of per-doc 60-bit terms (md5 of id:text): XOR is
    * commutative + associative → map-side combinable, placement- and
    * order-independent, and NEVER overflows — sums of hash terms would
    * exceed 2^63 around 8M docs/shard, exactly where 100 TB lives (and
    * overflow semantics diverge across engines; XOR is bit-identical
    * everywhere). The doc_id inside the term keeps true duplicate ROWS
    * distinguishable from a re-read (two identical (id, text) rows
    * would cancel — a table with duplicate primary keys has bigger
    * problems, d1 exists to find them). ROLLUP emits per-shard rows
    * AND the root in ONE hash-agg pass (x6's sentinel discipline:
    * shard −1 = the corpus root).
    */
  /** 60-bit md5 digest term per (doc_id, text) — p15's XOR-foldable
    * unit, shared with p16's release report.
    */
  private def digestTerm: org.apache.spark.sql.Column =
    conv(
      substring(
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))
          .cast("binary")), 1, 15),
      16, 10).cast("long")

  def datasetDigest(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("shard", shardOf(col("doc_id")))
      .withColumn("term", digestTerm)
      .rollup(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(term)").as("digest"))
      .select(
        coalesce(col("shard"), lit(-1L)).as("shard"),
        col("n_docs"), col("digest"))
      .orderBy(col("shard"))

  /** p16 — the corpus-release capstone: the full gate sequence a data
    * org runs before shipping a training corpus, composed from this
    * engine's own registered stages and reported per shard —
    *   1. exact dedup (d1's rule: min doc_id survives per content md5),
    *   2. C4 quality gates (t12's keep conjunction),
    *   3. benchmark holdout + decontamination (p6: the benchmark docs
    *      themselves are excluded from the release, and any corpus doc
    *      ≥50%-contained in benchmark shingles is dropped),
    *   4. content-addressed sharding (p4) with per-shard doc/token
    *      counts and p15's XOR content digest + a ROLLUP corpus total —
    * the release receipt: counts to budget a training run, a digest to
    * pin exactly which bytes shipped.
    *
    * Scale shape: every stage keeps its own documented posture (32-byte
    * dedup keys, broadcast benchmark semi-join, map-side-combinable
    * XOR/ROLLUP); the composition only ever joins id-projections on
    * doc_id — the gate frames are narrow, the contaminated set is tiny
    * (flagged docs), and AQE broadcasts the anti-join build side. One
    * Expand pass emits both report grains.
    */
  def releasePipeline(spark: SparkSession, dir: String): DataFrame =
    release(spark, dir, () =>
      TextOps.c4FiltersFrame(spark, dir).filter(col("keep")).select(col("doc_id")))

  /** p26 — the LEARNED-gate release pipeline (r12): p16's capstone
    * with the hand-written C4 rule conjunction (t12) swapped for the
    * TRAINED t26 classifier — the modern release shape (CCNet,
    * GPT-3's quality filtering, Llama's wiki-similarity gate):
    * learned quality filter + exact dedup + benchmark holdout +
    * decontamination, reported per content-addressed shard with
    * p15's XOR digest and a ROLLUP corpus total. Same receipt schema
    * as p16, so a curator diffs the two gates' funnel masses
    * directly.
    *
    * Scale shape: identical to p16 — the classifier gate is t26's
    * broadcast-join inference instead of t12's per-row rule, still
    * zero driver-side data; all composition joins are narrow doc_id
    * projections.
    */
  def learnedReleasePipeline(spark: SparkSession, dir: String): DataFrame =
    release(spark, dir, () =>
      TextOps.qualityClassifierFrame(spark, dir)
        .filter(col("pred_head")).select(col("doc_id")))

  /** The release receipt of p16 and p26, which differ only in the
    * quality gate: `qualityKept` is the doc_ids it keeps.
    */
  private def release(
      spark: SparkSession, dir: String,
      qualityKept: () => DataFrame): DataFrame = {
    // the three gates are independent doc_id projections, built as
    // concurrent components (Components). They consume the
    // components' UNSORTED frames — embedding the registered queries
    // froze their output rangepartitioning sorts into the checkpoints,
    // paid for nothing (the composition re-keys on doc_id)
    val gates = Components.materialize(spark)(
      "survivors" -> (() =>
        Dedup.exactDedupFrame(spark, dir).select(col("keep_id").as("doc_id"))),
      "quality" -> qualityKept,
      "contaminated" -> (() => contaminationFrame(spark, dir).select(col("doc_id"))))
    val released = gates("survivors")
      .join(gates("quality"), Seq("doc_id"))
      .filter(col("doc_id") >= BenchmarkDocs)
      .join(gates("contaminated"), Seq("doc_id"), "left_anti")
    documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .join(released, Seq("doc_id"))
      .join(
        TextOps.cachedQualityScore(spark, dir)
          .select(col("doc_id"), col("n_tokens")),
        Seq("doc_id"))
      .withColumn("shard", shardOf(col("doc_id")))
      .withColumn("term", digestTerm)
      .rollup(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("bit_xor(term)").as("digest"))
      .select(
        coalesce(col("shard"), lit(-1L)).as("shard"),
        col("n_docs"), col("n_tokens"), col("digest"))
      .orderBy(col("shard"))
  }

  /** Tokens per compacted output bin for p17 — the "target output file
    * size" of a compaction pass, in the same token units as p2/p4.
    */
  val CompactionTargetTokens = 4000L

  /** Doc-ids per synthetic input file for p17 (the small-file grain the
    * plan merges; a real run would read file sizes from the catalog).
    */
  val CompactionFileGroup = 16L

  /** p17 — small-file compaction plan: the metadata pass every big
    * table needs periodically (streaming ingest and per-task writes
    * leave thousands of under-sized files; scans then pay per-file
    * open/seek costs and schedulers per-file overhead). Input files
    * are binned into output groups of ≈ `CompactionTargetTokens` by
    * the deterministic next-fit-decreasing rule: order files by
    * (tokens DESC, file id), bin = running-tokens-before div target —
    * the same contiguous-fill model as p5's sequence packing, lifted
    * from docs to files. Every bin except the last fills to target ±
    * one file (spec-pinned), and the plan is a pure function of file
    * stats — stable under retries, independent of physical placement.
    *
    * Scale shape: the plan is METADATA-scale (one row per input file),
    * but the global running sum still goes through
    * `operators.GlobalPrefix`'s two-phase prefix scan rather than an
    * unpartitioned window — a 100 TB table can easily hold 10⁷ files,
    * which is exactly the single-partition window trap p2 avoids. A
    * downstream writer executes the plan with
    * `repartition(col("out_bin"))` + one file per bin.
    */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val files = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .withColumn("in_file", expr(s"doc_id div $CompactionFileGroup"))
      .groupBy(col("in_file"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("file_tokens"))
    graft.operators.GlobalPrefix
      .withPrefix(
        files,
        rangeKey = -col("file_tokens"),
        tieBreaks = Seq(col("in_file")),
        value = col("file_tokens"))
      .select(
        col("in_file"), col("n_docs"), col("file_tokens"),
        expr(s"(prefix - file_tokens) div $CompactionTargetTokens")
          .as("out_bin"))
      .orderBy(col("in_file"))
  }

  /** p17's executor — materialize the compaction plan: every doc is
    * routed to its plan-assigned output bin and each bin becomes
    * EXACTLY ONE file. The two-step shape is the standard Spark
    * compaction idiom: `repartition(col("out_bin"))` co-locates each
    * bin's rows in one task, then `partitionBy("out_bin")` writes that
    * task's rows as the single file in the bin's directory — no
    * driver-side loop over bins, no global sort. The plan frame is
    * metadata-scale (one row per input file), so it broadcasts onto
    * the doc scan; only the docs themselves shuffle, and only once,
    * on exactly the key the files are laid out by.
    *
    * `Round9OpsSpec` pins: one file per bin, per-bin token sums equal
    * the plan's, and no doc lost or duplicated.
    */
  def compactionExecute(
      spark: SparkSession, dir: String, outPath: String): Unit = {
    val plan = compactionPlan(spark, dir)
      .select(col("in_file"), col("out_bin"))
    val docs = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .withColumn("in_file", expr(s"doc_id div $CompactionFileGroup"))
    docs.join(broadcast(plan), Seq("in_file"))
      .select(col("doc_id"), col("n_tokens"), col("out_bin"))
      .repartition(col("out_bin"))
      .write.mode("overwrite").partitionBy("out_bin").parquet(outPath)
  }

  /** p18 water-filling budget: fraction of the corpus the allocation
    * must fit (9/10 — sized so the smallest sources SATURATE on the
    * testdata at every SF, keeping both branches of the allocator
    * live).
    */
  val WaterfillBudgetNum = 9L
  val WaterfillBudgetDen = 10L

  /** p18 — per-source token allocation by WATER-FILLING under caps,
    * the fair-division algorithm multilingual/multi-source budget
    * planning actually uses (each source holds cap_i tokens; a global
    * budget B is poured: every source receives min(cap_i, λ) with λ
    * the common water level): small sources keep everything they have
    * (saturated), large sources are clipped to λ — proportional
    * splits (p9's α-mix) over-serve giants and starve the tail, and a
    * uniform B/n over-allocates past small sources' caps.
    *
    * Closed form, no iteration: sources sorted by cap ascending, k-th
    * source saturates iff cap_k·(n−k+1) + Σ_{j<k} cap_j ≤ B (monotone
    * in k, so the saturated set is a prefix); λ = (B − Σ_sat cap) div
    * |unsat| — all exact integer math, the p2 `div` discipline; the
    * < |unsat| rounding slack stays unallocated (deterministic; a
    * real run would spend it by source order). Budget ≥ total ⇒
    * everyone saturates and λ's div-by-zero branch is guarded to
    * "alloc = cap".
    *
    * Scale shape: per-source caps are one hash agg over the cached
    * quality frame; the sorted prefix rides `GlobalPrefix`'s two-phase
    * scan — at 10⁵ web DOMAINS as sources this is the same
    * single-partition-window trap p17 avoids; the scalars (n, total,
    * budget, λ) are 1-row broadcasts (p9 discipline).
    */
  def budgetWaterfill(spark: SparkSession, dir: String): DataFrame = {
    val caps = TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .join(documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("cap_tokens"))
    val g = graft.operators.GlobalPrefix
      .withPrefix(caps, col("cap_tokens"), Seq(col("source")), col("cap_tokens"))
      .withColumn("before", col("prefix") - col("cap_tokens"))
    val tot = caps.agg(
        sum(col("cap_tokens")).as("total"), count(lit(1)).as("n"))
      .select(col("total"), col("n"),
        expr(s"(total * $WaterfillBudgetNum) div $WaterfillBudgetDen")
          .as("budget"))
    val flagged = g.crossJoin(broadcast(tot))
      .withColumn(
        "sat",
        col("cap_tokens") * (col("n") - col("gidx") + 1) + col("before")
          <= col("budget"))
    val lam = flagged.agg(
        sum(when(col("sat"), col("cap_tokens")).otherwise(lit(0L)))
          .as("sat_caps"),
        sum(when(col("sat"), lit(1L)).otherwise(lit(0L))).as("n_sat"),
        first(col("budget")).as("budget"), first(col("n")).as("n"))
      .select(
        when(col("n") === col("n_sat"), lit(Long.MaxValue))
          .otherwise(expr("(budget - sat_caps) div (n - n_sat)")).as("lam"))
    flagged.crossJoin(broadcast(lam))
      .select(
        col("source"), col("cap_tokens"), col("sat").as("saturated"),
        least(col("cap_tokens"), col("lam")).as("alloc_tokens"))
      .orderBy(col("source"))
  }

  /** p19 shard-count change under audit: N → N+1. */
  val ShardsBefore = 8
  val ShardsAfter = 9

  /** p19 — resharding stability audit via RENDEZVOUS (highest-random-
    * weight) hashing, the consistent-placement scheme shard/cache
    * layers use (Thaler & Ravishankar 1998; Ceph/Riak lineage): doc d
    * goes to argmax_k hash(d, k). When the shard count changes N→N+1,
    * a doc moves ONLY if the new shard's weight beats all its old ones
    * — expected movement 1/(N+1) of the corpus — where p4's
    * content-mod placement remaps ~N/(N+1) of ALL docs (every doc
    * whose hash changes residue). At 100 TB the difference is
    * re-copying ~11 TB vs ~89 TB on a reshard; this audit MEASURES it
    * on the corpus, per destination shard.
    *
    * Deterministic: weights are md5(doc_id:k) 56-bit hex prefixes
    * (exact integers, the m2 conv trick) PACKED with the shard id —
    * w·16 + k, one orderable BIGINT (the w6 okey discipline; k < 16 so
    * the pack is lossless and ties, never hit with 56-bit weights,
    * break to the higher k) — because DuckDB's arg_max can't order by
    * a struct; both engines argmax the identical packed integer.
    *
    * Scale shape: per-row N+(N+1) codegen'd hash evaluations + one
    * array_max projection — no explode, no join; one hash agg by
    * destination shard. Linear, embarrassingly parallel.
    */
  def rendezvousShards(spark: SparkSession, dir: String): DataFrame = {
    def weight(k: Int): Column =
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(s":$k"))),
        1, 14), 16, 10).cast("long")
    def assign(n: Int): Column =
      array_max(array((0 until n).map(k =>
        struct((weight(k) * 16 + k).as("p"), lit(k.toLong).as("k"))): _*))
        .getField("k")
    documents(spark, dir)
      .select(
        col("doc_id"),
        assign(ShardsBefore).as("before_rdv"),
        assign(ShardsAfter).as("after_rdv"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(ShardsBefore.toLong)).as("before_mod"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(ShardsAfter.toLong)).as("after_mod"))
      .groupBy(col("after_rdv").as("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("before_rdv") =!= col("after_rdv"), 1L).otherwise(0L))
          .as("moved_rdv"),
        sum(when(col("before_mod") =!= col("after_mod"), 1L).otherwise(0L))
          .as("moved_mod"))
      .orderBy(col("shard_id"))
  }

  /** Seed + percent bounds for the p20 grouped split: train < 80,
    * val < 90, test otherwise. Seed chosen so all three splits are
    * non-empty on the testdata's source list at every SF.
    */
  val HoldoutSeed = "split7"
  val TrainPct = 80L
  val ValPct = 10L

  /** p20 — leakage-free grouped holdout split (GroupShuffleSplit /
    * the "split by domain, never by document" rule): every document
    * of a source lands in the SAME train/val/test split, because the
    * split coin hashes the GROUP key (source), not the doc id. The
    * per-doc split p12's Bernoulli coin would give leaks near-
    * duplicates across the boundary — two crawls of one site straddle
    * train and val, and the eval overstates generalization; group-level
    * assignment is the standard fix (and why benchmarks decontaminate
    * by URL domain). Emits the split-level audit: source / doc / token
    * counts + doc fraction — the numbers a data org checks before
    * accepting a split.
    *
    * Scale shape: the coin is a per-row md5 projection inside the scan
    * (p11/p12's content-addressed discipline — deterministic, retry-
    * safe, placement-independent, auditable after the fact); one 1:1
    * narrow join brings token counts; one hash agg to 3 rows; the
    * grand total is a 1-row broadcast. No shuffle keyed on anything
    * data-sized except the doc_id join the quality frame already
    * needs.
    */
  def holdoutSplit(spark: SparkSession, dir: String): DataFrame = {
    val coin = pmod(
      conv(
        substring(
          md5(concat(lit(s"$HoldoutSeed:"), col("source")).cast("binary")),
          1, 15),
        16, 10).cast("long"),
      lit(100L))
    val labeled = documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(
        TextOps.cachedQualityScore(spark, dir)
          .select(col("doc_id"), col("n_tokens")),
        "doc_id")
      .withColumn("coin", coin)
      .withColumn(
        "split",
        when(col("coin") < TrainPct, "train")
          .when(col("coin") < TrainPct + ValPct, "val")
          .otherwise("test"))
    // the fraction's denominator rides an un-ordered global window over
    // the POST-AGG frame (≤3 rows — one per split) instead of a
    // broadcast-total branch that would re-run the doc/quality join a
    // second time (the w16 lesson)
    labeled.groupBy(col("split"))
      .agg(
        countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn(
        "total_docs", sum(col("n_docs")).over(Window.partitionBy()))
      .select(
        col("split"), col("n_sources"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("total_docs").cast("double"))
          .as("frac_docs"))
      .orderBy(col("split"))
  }

  /** p21 — packing-efficiency audit, p5's promised consumer ("the
    * input to a packing-efficiency check before training"): per shard
    * AND for the whole corpus in ONE ROLLUP pass (the p15 both-grains
    * discipline, −1 sentinel for the ALL row — x6's no-NULL-groups
    * rule), how full the 2048-token sequence bins actually are —
    * n_bins, docs, tokens, capacity, exact fill in ppm, and the
    * under-/overfull bin counts. Padding waste (underfull bins) is
    * tokens a trainer pays attention for and learns nothing from;
    * overfull bins flag truncation risk — the two numbers a packing
    * change is judged by.
    *
    * Exactness: fill_ppm = `tokens·1e6 div capacity` in pure longs; a
    * guard raises (both engines fail loudly — DuckDB's BIGINT multiply
    * errors on overflow too) once tokens exceed ~9.2e12, i.e. ~37 TB
    * of text in ONE report row — re-shard before that, says the error.
    *
    * Scale shape: rides p5's shard-partitioned prefix windows; this
    * audit adds one ROLLUP hash agg over the BIN frame (corpus/2048
    * rows) and nothing data-sized.
    */
  def packingEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val fill = when(
      col("n_tokens") > Long.MaxValue / 1000000L,
      raise_error(lit(
        "p21: token count overflows the exact ppm fill math - " +
          "re-shard the report")).cast("long"))
      .otherwise(expr(s"n_tokens * 1000000L div (n_bins * $SeqLen)"))
    sequencePack(spark, dir)
      .rollup(col("shard"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("n_tokens") < SeqLen, 1L).otherwise(0L))
          .as("n_underfull"),
        sum(when(col("n_tokens") > SeqLen, 1L).otherwise(0L))
          .as("n_overfull"))
      .select(
        coalesce(col("shard"), lit(-1L)).as("shard"),
        col("n_bins"), col("n_docs"), col("n_tokens"),
        (col("n_bins") * SeqLen).as("capacity"),
        fill.as("fill_ppm"),
        col("n_underfull"), col("n_overfull"))
      .orderBy(col("shard"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p21_packing_efficiency" -> packingEfficiency,
    "p20_holdout_split" -> holdoutSplit,
    "p19_rendezvous_shards" -> rendezvousShards,
    "p18_budget_waterfill" -> budgetWaterfill,
    "p16_release_pipeline" -> releasePipeline,
    "p26_learned_release" -> learnedReleasePipeline,
    "p15_dataset_digest" -> datasetDigest,
    "p14_length_histogram" -> lengthHistogram,
    "p13_zorder_layout" -> zorderLayout,
    "p10_bloom_contamination" -> bloomContamination,
    "p12_stratified_sample" -> stratifiedSample,
    "p11_epoch_shuffle" -> epochShuffle,
    "p9_source_mix" -> sourceMix,
    "p8_quality_curriculum" -> qualityCurriculum,
    "p1_training_select" -> select,
    "p2_token_budget" -> tokenBudget,
    "p22_bpe_budget" -> bpeTokenBudget,
    "p3_language_mix" -> languageMix,
    "p24_temperature_mix" -> temperatureMix,
    "p25_classifier_gate" -> classifierGate,
    "p4_shard_stats" -> shardStats,
    "p5_sequence_pack" -> sequencePack,
    "p23_bpe_pack" -> bpeSequencePack,
    "p6_contamination" -> contamination,
    "p7_dsir_weights" -> dsirWeights,
    "p17_compaction_plan" -> compactionPlan)

  // Self-contained oracle: the words CTE feeds quality + lang, the
  // shingle→MinHash→LSH→cluster chain reproduces d9 via the recursive
  // CTE (unique min-label fixpoint), and the final select applies the
  // same band. CTE names are disjoint by construction.
  private def inList(ws: Seq[String]): String = TextOps.inList(ws)

  val oracleSql: Map[String, String] = {
    val langs = TextOps.LangLexicons.map(_._1)
    val hitExprs = TextOps.LangLexicons.map { case (l, lex) =>
      s"SUM(CASE WHEN word IN (${inList(lex)}) THEN 1 ELSE 0 END) AS hits_$l"
    }.mkString(", ")
    val caseExpr = langs.map { l =>
      val geAll = langs.filter(_ != l)
        .map(o => s"hits_$l >= hits_$o").mkString(" AND ")
      s"WHEN $geAll AND hits_$l > 0 THEN '$l'"
    }.mkString(" ")
    val qualityCtes =
      s"""words AS (
            SELECT doc_id,
                   generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) - 1 AS pos,
                   unnest(string_split_regex(lower(text), '\\s+')) AS word
            FROM documents),
          quality AS (
            SELECT doc_id,
                   COUNT(*) AS n_tokens,
                   CAST(SUM(CASE WHEN word IN (${inList(TextOps.EnStop)}) THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) AS stopword_ratio,
                   CAST(COUNT(DISTINCT word) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS type_token_ratio
            FROM words GROUP BY doc_id)"""
    // Mirrors Dedup.cachedShingles: distinct 3-gram shingles with the
    // document-frequency cap applied.
    val shingleCtes =
      s"""words AS (
            SELECT doc_id,
                   generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) - 1 AS pos,
                   unnest(string_split_regex(lower(text), '\\s+')) AS word
            FROM documents),
          sh0 AS (
            SELECT doc_id,
                   word || ' ' || lead(word) OVER w || ' ' || lead(word, 2) OVER w AS sh
            FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          shingles1 AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh IS NOT NULL),
          shingles AS (
            SELECT doc_id, sh FROM (
              SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
              FROM shingles1)
            WHERE df <= ${Dedup.MaxShingleDf})"""
    Map(
      // p10 is bench-only (engine-private bloom bit layout; p6 is the
      // exact oracle-checked baseline) — no entry here by design.
      "p16_release_pipeline" ->
        s"""WITH $shingleCtes,
            q AS (
              SELECT doc_id, COUNT(*) AS n_tokens,
                     CAST(COUNT(DISTINCT word) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS ttr,
                     MAX(CASE WHEN word IN (${inList(TextOps.Blocklist)})
                         THEN 1 ELSE 0 END) AS bl
              FROM words GROUP BY doc_id),
            surv AS (
              SELECT MIN(doc_id) AS doc_id FROM (
                SELECT doc_id,
                       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
                FROM documents)
              GROUP BY fp),
            bench AS (
              SELECT DISTINCT sh FROM shingles WHERE doc_id < $BenchmarkDocs),
            sz AS (
              SELECT doc_id, COUNT(*) AS n_sh FROM shingles
              WHERE doc_id >= $BenchmarkDocs GROUP BY doc_id),
            hits AS (
              SELECT s.doc_id, COUNT(*) AS n_hit
              FROM shingles s JOIN bench b ON s.sh = b.sh
              WHERE s.doc_id >= $BenchmarkDocs GROUP BY s.doc_id),
            contam AS (
              SELECT z.doc_id FROM sz z LEFT JOIN hits h USING (doc_id)
              WHERE CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
                      / CAST(z.n_sh AS DOUBLE) >= $ContaminationThreshold),
            released AS (
              SELECT s.doc_id FROM surv s JOIN q USING (doc_id)
              WHERE s.doc_id >= $BenchmarkDocs
                AND NOT (q.n_tokens < 30 OR q.ttr < 0.35 OR q.bl = 1)
                AND s.doc_id NOT IN (SELECT doc_id FROM contam)),
            t AS (
              SELECT doc_id, $shardSql AS shard, q.n_tokens,
                     CAST(concat('0x', substr(
                       md5(CAST(doc_id AS VARCHAR) || ':' || d.text), 1, 15))
                       AS BIGINT) AS term
              FROM released JOIN documents d USING (doc_id)
                            JOIN q USING (doc_id))
            SELECT COALESCE(shard, -1) AS shard, COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, bit_xor(term) AS digest
            FROM t GROUP BY ROLLUP(shard) ORDER BY shard""",
      // p26: p16's funnel with the C4 rule gate swapped for t26's
      // certified predictions (nested verbatim — the p25/s18
      // trust-inheritance discipline); same receipt schema as p16
      "p26_learned_release" ->
        s"""WITH $shingleCtes,
            q AS (
              SELECT doc_id, COUNT(*) AS n_tokens
              FROM words GROUP BY doc_id),
            surv AS (
              SELECT MIN(doc_id) AS doc_id FROM (
                SELECT doc_id,
                       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
                FROM documents)
              GROUP BY fp),
            pred AS (
              SELECT doc_id, pred_head
              FROM (${TextOps.oracleSql("t26_quality_classifier")}) t26),
            bench AS (
              SELECT DISTINCT sh FROM shingles WHERE doc_id < $BenchmarkDocs),
            sz AS (
              SELECT doc_id, COUNT(*) AS n_sh FROM shingles
              WHERE doc_id >= $BenchmarkDocs GROUP BY doc_id),
            hits AS (
              SELECT s.doc_id, COUNT(*) AS n_hit
              FROM shingles s JOIN bench b ON s.sh = b.sh
              WHERE s.doc_id >= $BenchmarkDocs GROUP BY s.doc_id),
            contam AS (
              SELECT z.doc_id FROM sz z LEFT JOIN hits h USING (doc_id)
              WHERE CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
                      / CAST(z.n_sh AS DOUBLE) >= $ContaminationThreshold),
            released AS (
              SELECT s.doc_id FROM surv s JOIN pred p USING (doc_id)
              WHERE s.doc_id >= $BenchmarkDocs
                AND p.pred_head
                AND s.doc_id NOT IN (SELECT doc_id FROM contam)),
            t AS (
              SELECT doc_id, $shardSql AS shard, q.n_tokens,
                     CAST(concat('0x', substr(
                       md5(CAST(doc_id AS VARCHAR) || ':' || d.text), 1, 15))
                       AS BIGINT) AS term
              FROM released JOIN documents d USING (doc_id)
                            JOIN q USING (doc_id))
            SELECT COALESCE(shard, -1) AS shard, COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, bit_xor(term) AS digest
            FROM t GROUP BY ROLLUP(shard) ORDER BY shard""",
      "p15_dataset_digest" ->
        s"""WITH t AS (
              SELECT $shardSql AS shard,
                     CAST(concat('0x', substr(
                       md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))
                       AS BIGINT) AS term
              FROM documents)
            SELECT COALESCE(shard, -1) AS shard, COUNT(*) AS n_docs,
                   bit_xor(term) AS digest
            FROM t GROUP BY ROLLUP(shard) ORDER BY shard""",
      "p14_length_histogram" ->
        s"""WITH $qualityCtes
            SELECT CAST(LENGTH(bin(n_tokens)) - 1 AS BIGINT) AS bucket,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   MIN(n_tokens) AS min_tokens,
                   MAX(n_tokens) AS max_tokens
            FROM quality GROUP BY 1 ORDER BY bucket""",
      "p13_zorder_layout" ->
        s"""WITH ev AS (
              SELECT user_id, epoch_us(ts) // 1000000 AS tsec FROM events),
            zb AS (
              SELECT user_id, tsec,
                     ($zOracleExpr) // ${1L << ZBucketShift} AS zbucket
              FROM ev)
            SELECT zbucket, COUNT(*) AS n_events,
                   MIN(user_id) AS min_user, MAX(user_id) AS max_user,
                   MAX(user_id) - MIN(user_id) AS user_span,
                   MIN(tsec) AS min_tsec, MAX(tsec) AS max_tsec,
                   MAX(tsec) - MIN(tsec) AS tsec_span
            FROM zb GROUP BY zbucket ORDER BY zbucket""",
      "p12_stratified_sample" -> {
        val rateCase = SampleRates
          .map { case (s, r) => s"WHEN source = '$s' THEN $r" }
          .mkString("CASE ", " ", s" ELSE $DefaultSampleRate END")
        s"""SELECT doc_id, source, u FROM (
              SELECT doc_id, source,
                     CAST(CAST(concat('0x', substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
                       / 1152921504606846976.0 AS u
              FROM documents)
            WHERE u < $rateCase
            ORDER BY doc_id"""
      },
      "p11_epoch_shuffle" ->
        s"""SELECT epoch, shard,
                   CAST(row_number() OVER (PARTITION BY epoch, shard
                     ORDER BY skey) AS BIGINT) AS pos,
                   doc_id, skey
            FROM (
              SELECT e.epoch, d.doc_id,
                     md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS skey,
                     CAST(CAST(concat('0x', substr(md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)), 1, 2)) AS BIGINT) % $ShuffleShards AS BIGINT) AS shard
              FROM documents d
              CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e)
            ORDER BY epoch, shard, pos""",
      "p9_source_mix" ->
        s"""WITH $qualityCtes,
            per AS (
              SELECT d.source, COUNT(*) AS n_docs,
                     CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens,
                     CAST(FLOOR(sqrt(CAST(SUM(q.n_tokens) AS DOUBLE)) * 1e9) AS BIGINT) AS qs
              FROM quality q JOIN documents d USING (doc_id)
              GROUP BY d.source),
            tot AS (SELECT CAST(SUM(qs) AS BIGINT) AS tot FROM per)
            SELECT source, n_docs, n_tokens,
                   CAST(qs AS DOUBLE) / CAST(tot AS DOUBLE) AS mix_weight
            FROM per CROSS JOIN tot ORDER BY source""",
      "p8_quality_curriculum" ->
        s"""WITH $qualityCtes,
            staged AS (
              SELECT doc_id, n_tokens, type_token_ratio AS ttr,
                     CASE WHEN type_token_ratio >= 0.6 THEN 1
                          WHEN type_token_ratio >= 0.45 THEN 2 ELSE 3 END AS stage,
                     CASE WHEN type_token_ratio >= 0.6 THEN 3
                          WHEN type_token_ratio >= 0.45 THEN 2 ELSE 1 END AS epochs
              FROM quality)
            SELECT CAST(stage AS BIGINT) AS stage,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(SUM(n_tokens * epochs) AS BIGINT) AS effective_tokens,
                   CAST(SUM(CAST(FLOOR(ttr * 1e9) AS BIGINT)) AS DOUBLE)
                     / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS avg_ttr
            FROM staged GROUP BY stage ORDER BY stage""",
      "p6_contamination" ->
        s"""WITH $shingleCtes,
            bench AS (
              SELECT DISTINCT sh FROM shingles WHERE doc_id < $BenchmarkDocs),
            sz AS (
              SELECT doc_id, COUNT(*) AS n_sh FROM shingles
              WHERE doc_id >= $BenchmarkDocs GROUP BY doc_id),
            hits AS (
              SELECT s.doc_id, COUNT(*) AS n_hit
              FROM shingles s JOIN bench b ON s.sh = b.sh
              WHERE s.doc_id >= $BenchmarkDocs GROUP BY s.doc_id)
            SELECT z.doc_id, COALESCE(h.n_hit, 0) AS n_hit, z.n_sh,
                   CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(z.n_sh AS DOUBLE)
                     AS contaminated_frac
            FROM sz z LEFT JOIN hits h ON h.doc_id = z.doc_id
            WHERE CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(z.n_sh AS DOUBLE)
                  >= $ContaminationThreshold
            ORDER BY z.doc_id""",
      "p7_dsir_weights" ->
        s"""WITH $qualityCtes,
            cfreq AS (SELECT word, COUNT(*) AS c_cnt FROM words GROUP BY word),
            ctot AS (SELECT CAST(SUM(c_cnt) AS BIGINT) AS c_total FROM cfreq),
            vocab AS (SELECT COUNT(*) AS v FROM cfreq),
            tfreq AS (
              SELECT word, COUNT(*) AS t_cnt FROM words
              WHERE doc_id < $TargetDocs GROUP BY word),
            ttot AS (SELECT CAST(SUM(t_cnt) AS BIGINT) AS t_total FROM tfreq),
            lq AS (
              SELECT w.doc_id,
                     CAST(FLOOR(ln(
                       (CAST(COALESCE(t.t_cnt, 0) + 1 AS DOUBLE)
                          / CAST(tt.t_total + v.v AS DOUBLE))
                       / (CAST(f.c_cnt AS DOUBLE) / CAST(ct.c_total AS DOUBLE)))
                       * 1e9) AS BIGINT) AS lr
              FROM words w
              JOIN cfreq f USING (word)
              LEFT JOIN tfreq t USING (word)
              CROSS JOIN ttot tt CROSS JOIN ctot ct CROSS JOIN vocab v)
            SELECT doc_id, COUNT(*) AS n_tokens,
                   CAST(SUM(lr) AS DOUBLE) / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS avg_llr
            FROM lq GROUP BY doc_id ORDER BY doc_id""",
      // p23: p5's packing CTEs with the token source swapped for t25's
      // certified BPE counts (nested verbatim, the p22 discipline)
      "p23_bpe_pack" ->
        s"""WITH bpe AS (SELECT doc_id, n_tokens AS bpe_tokens
                         FROM (${TextOps.oracleSql("t25_bpe_encode")}) t),
            sharded AS (
              SELECT doc_id, bpe_tokens, $shardSql AS shard
              FROM bpe),
            packed AS (
              SELECT shard, doc_id, bpe_tokens,
                     COALESCE(SUM(bpe_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
              FROM sharded)
            SELECT shard, CAST(tokens_before // $SeqLen AS BIGINT) AS bin,
                   COUNT(*) AS n_docs, CAST(SUM(bpe_tokens) AS BIGINT) AS n_tokens
            FROM packed GROUP BY 1, 2 ORDER BY shard, bin""",
      "p5_sequence_pack" ->
        s"""WITH $qualityCtes,
            sharded AS (
              SELECT doc_id, n_tokens, $shardSql AS shard
              FROM quality),
            packed AS (
              SELECT shard, doc_id, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
              FROM sharded)
            SELECT shard, CAST(tokens_before // $SeqLen AS BIGINT) AS bin,
                   COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM packed GROUP BY 1, 2 ORDER BY shard, bin""",
      // p21: p5's bin CTEs + one ROLLUP with the identical integer
      // fill math (−1 sentinel for the ALL row)
      "p21_packing_efficiency" ->
        s"""WITH $qualityCtes,
            sharded AS (
              SELECT doc_id, n_tokens, $shardSql AS shard
              FROM quality),
            packed AS (
              SELECT shard, doc_id, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
              FROM sharded),
            bins AS (
              SELECT shard, tokens_before // $SeqLen AS bin,
                     COUNT(*) AS nd, CAST(SUM(n_tokens) AS BIGINT) AS nt
              FROM packed GROUP BY 1, 2),
            r AS (
              SELECT COALESCE(shard, -1) AS shard, COUNT(*) AS n_bins,
                     CAST(SUM(nd) AS BIGINT) AS n_docs,
                     CAST(SUM(nt) AS BIGINT) AS n_tokens,
                     CAST(SUM(CASE WHEN nt < $SeqLen THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_underfull,
                     CAST(SUM(CASE WHEN nt > $SeqLen THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_overfull
              FROM bins GROUP BY ROLLUP(shard))
            SELECT shard, n_bins, n_docs, n_tokens,
                   CAST(n_bins * $SeqLen AS BIGINT) AS capacity,
                   CAST(n_tokens * 1000000 // (n_bins * $SeqLen) AS BIGINT)
                     AS fill_ppm,
                   n_underfull, n_overfull
            FROM r ORDER BY shard""",
      "p4_shard_stats" ->
        s"""WITH $qualityCtes,
            sharded AS (
              SELECT doc_id, n_tokens, $shardSql AS shard
              FROM quality)
            SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM sharded GROUP BY shard ORDER BY shard""",
      // p20: the identical group-keyed md5 coin — a doc's split is a
      // pure function of its source, so both engines agree row-for-row
      "p20_holdout_split" ->
        s"""WITH $qualityCtes,
            lab AS (
              SELECT d.doc_id, d.source, q.n_tokens,
                     CAST(concat('0x',
                       substr(md5('$HoldoutSeed:' || d.source), 1, 15))
                       AS BIGINT) % 100 AS coin
              FROM documents d JOIN quality q USING (doc_id)),
            s AS (
              SELECT *, CASE WHEN coin < $TrainPct THEN 'train'
                             WHEN coin < ${TrainPct + ValPct} THEN 'val'
                             ELSE 'test' END AS split
              FROM lab),
            tot AS (SELECT COUNT(*) AS total_docs FROM s)
            SELECT split,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS DOUBLE) / CAST(tot.total_docs AS DOUBLE)
                     AS frac_docs
            FROM s, tot GROUP BY split, tot.total_docs ORDER BY split""",
      "p17_compaction_plan" ->
        s"""WITH $qualityCtes,
            files AS (
              SELECT doc_id // $CompactionFileGroup AS in_file,
                     COUNT(*) AS n_docs,
                     CAST(SUM(n_tokens) AS BIGINT) AS file_tokens
              FROM quality GROUP BY 1),
            planned AS (
              SELECT in_file, n_docs, file_tokens,
                     COALESCE(SUM(file_tokens) OVER (
                       ORDER BY file_tokens DESC, in_file
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cum_before
              FROM files)
            SELECT in_file, n_docs, file_tokens,
                   CAST(cum_before // $CompactionTargetTokens AS BIGINT) AS out_bin
            FROM planned ORDER BY in_file""",
      // p19: assignments re-derived per doc via unnest+arg_max over
      // the identical packed w*16+k key; hex→int via the m2 conv trick
      "p19_rendezvous_shards" ->
        s"""WITH w8 AS (
              SELECT d.doc_id,
                     arg_max(k.k, CAST(concat('0x',
                       substr(md5(d.doc_id::VARCHAR || ':' || k.k::VARCHAR),
                         1, 14)) AS BIGINT) * 16 + k.k) AS before_rdv
              FROM documents d
              CROSS JOIN (SELECT unnest(range($ShardsBefore)) AS k) k
              GROUP BY d.doc_id),
            w9 AS (
              SELECT d.doc_id,
                     arg_max(k.k, CAST(concat('0x',
                       substr(md5(d.doc_id::VARCHAR || ':' || k.k::VARCHAR),
                         1, 14)) AS BIGINT) * 16 + k.k) AS after_rdv
              FROM documents d
              CROSS JOIN (SELECT unnest(range($ShardsAfter)) AS k) k
              GROUP BY d.doc_id),
            m AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15))
                       AS BIGINT) AS h
              FROM documents)
            SELECT w9.after_rdv AS shard_id,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN w8.before_rdv <> w9.after_rdv
                     THEN 1 ELSE 0 END) AS BIGINT) AS moved_rdv,
                   CAST(SUM(CASE WHEN (m.h % $ShardsBefore)
                       <> (m.h % $ShardsAfter)
                     THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod
            FROM w9 JOIN w8 USING (doc_id) JOIN m USING (doc_id)
            GROUP BY 1 ORDER BY 1""",
      // p18: the same closed-form water-fill — saturated prefix via
      // the monotone condition over the cap-ascending order, λ from
      // the saturated aggregate, all `//` exact integer division
      "p18_budget_waterfill" ->
        s"""WITH $qualityCtes,
            caps AS (
              SELECT d.source, CAST(SUM(q.n_tokens) AS BIGINT) AS cap_tokens
              FROM quality q JOIN documents d USING (doc_id) GROUP BY 1),
            tot AS (
              SELECT CAST(SUM(cap_tokens) AS BIGINT) AS total,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(cap_tokens) * $WaterfillBudgetNum
                       // $WaterfillBudgetDen AS BIGINT) AS budget
              FROM caps),
            idxd AS (
              SELECT source, cap_tokens,
                     CAST(row_number() OVER
                       (ORDER BY cap_tokens, source) AS BIGINT) AS gidx,
                     CAST(COALESCE(SUM(cap_tokens) OVER
                       (ORDER BY cap_tokens, source
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS bef
              FROM caps),
            flagged AS (
              SELECT i.source, i.cap_tokens, i.gidx, i.bef, t.n, t.budget,
                     (i.cap_tokens * (t.n - i.gidx + 1) + i.bef) <= t.budget
                       AS sat
              FROM idxd i, tot t),
            lam AS (
              SELECT CASE
                WHEN MAX(n) = SUM(CASE WHEN sat THEN 1 ELSE 0 END)
                THEN 9223372036854775807
                ELSE CAST((MAX(budget)
                       - SUM(CASE WHEN sat THEN cap_tokens ELSE 0 END))
                     // (MAX(n) - SUM(CASE WHEN sat THEN 1 ELSE 0 END))
                     AS BIGINT) END AS lam
              FROM flagged)
            SELECT f.source, f.cap_tokens, f.sat AS saturated,
                   CAST(LEAST(f.cap_tokens, l.lam) AS BIGINT) AS alloc_tokens
            FROM flagged f, lam l ORDER BY f.source""",
      "p3_language_mix" ->
        s"""WITH $qualityCtes,
            q2 AS (
              SELECT q.doc_id, q.n_tokens, d.lang,
                     (q.stopword_ratio + q.type_token_ratio) / 2.0 AS quality_key
              FROM quality q JOIN documents d USING (doc_id)),
            ranked AS (
              SELECT lang, doc_id, n_tokens, quality_key,
                     CAST(SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY quality_key DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              FROM q2),
            budgets AS (
              SELECT lang, CAST(SUM(n_tokens) // 2 AS BIGINT) AS lang_budget
              FROM q2 GROUP BY lang)
            SELECT r.lang, r.doc_id, r.n_tokens, r.cum_tokens, r.quality_key
            FROM ranked r JOIN budgets b ON b.lang = r.lang
            WHERE r.cum_tokens <= b.lang_budget
            ORDER BY r.lang, r.cum_tokens""",
      // p24: the alpha-sampling weights replayed — per-lang counts,
      // nano-quantized sqrt weights, pure-BIGINT budget split
      "p24_temperature_mix" ->
        s"""WITH $qualityCtes,
            pl AS (
              SELECT d.lang, COUNT(*) AS n_docs,
                     CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens
              FROM quality q JOIN documents d USING (doc_id)
              GROUP BY d.lang),
            tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM pl),
            sc AS (
              SELECT lang, n_docs, n_tokens, total,
                     CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share,
                     CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)
                       / CAST(total AS DOUBLE)) * 1e9) AS BIGINT) AS wq
              FROM pl CROSS JOIN tot),
            ws AS (SELECT CAST(SUM(wq) AS BIGINT) AS wq_sum FROM sc)
            SELECT lang, n_docs, n_tokens, share, wq,
                   CAST((total // 2) * wq // wq_sum AS BIGINT) AS budget_tokens,
                   CAST((total // 2) * wq // wq_sum AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE) AS epochs
            FROM sc CROSS JOIN ws ORDER BY lang""",
      // p25: t26's certified predictions nested verbatim (the s18
      // trust-inheritance) + the per-language keep/drop mass fold
      "p25_classifier_gate" ->
        s"""WITH $qualityCtes,
            pred AS (
              SELECT doc_id, pred_head
              FROM (${TextOps.oracleSql("t26_quality_classifier")}) t),
            j AS (
              SELECT d.lang, q.n_tokens,
                     CASE WHEN p.pred_head THEN 1 ELSE 0 END AS kept
              FROM quality q
              JOIN documents d USING (doc_id)
              JOIN pred p USING (doc_id))
            SELECT lang,
                   CAST(SUM(kept) AS BIGINT) AS n_kept,
                   CAST(SUM(1 - kept) AS BIGINT) AS n_dropped,
                   CAST(SUM(n_tokens * kept) AS BIGINT) AS kept_tokens,
                   CAST(SUM(n_tokens * (1 - kept)) AS BIGINT) AS dropped_tokens,
                   CAST(SUM(n_tokens * kept) AS DOUBLE)
                     / CAST(SUM(n_tokens) AS DOUBLE) AS kept_token_frac
            FROM j GROUP BY lang ORDER BY lang""",
      // p22: p2's selection with the token currency swapped for t25's
      // certified BPE counts (nested verbatim — the s18 composition
      // discipline; inner CTE names are scoped to the subquery)
      "p22_bpe_budget" ->
        s"""WITH $qualityCtes,
            bpe AS (SELECT doc_id, n_tokens AS bpe_tokens
                    FROM (${TextOps.oracleSql("t25_bpe_encode")}) t),
            ranked AS (
              SELECT q.doc_id, bpe_tokens,
                     (stopword_ratio + type_token_ratio) / 2.0 AS quality_key,
                     CAST(SUM(bpe_tokens) OVER (
                       ORDER BY -((stopword_ratio + type_token_ratio) / 2.0), q.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              FROM quality q JOIN bpe ON bpe.doc_id = q.doc_id),
            budget AS (SELECT CAST(SUM(bpe_tokens) // 2 AS BIGINT) AS b FROM bpe)
            SELECT doc_id, bpe_tokens, cum_tokens, quality_key
            FROM ranked CROSS JOIN budget
            WHERE cum_tokens <= b
            ORDER BY cum_tokens""",
      "p2_token_budget" ->
        s"""WITH $qualityCtes,
            ranked AS (
              SELECT doc_id, n_tokens,
                     (stopword_ratio + type_token_ratio) / 2.0 AS quality_key,
                     CAST(SUM(n_tokens) OVER (
                       ORDER BY -((stopword_ratio + type_token_ratio) / 2.0), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              FROM quality),
            budget AS (SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS b FROM quality)
            SELECT doc_id, n_tokens, cum_tokens, quality_key
            FROM ranked CROSS JOIN budget
            WHERE cum_tokens <= b
            ORDER BY cum_tokens""",
      "p1_training_select" ->
      s"""WITH RECURSIVE words AS (
            SELECT doc_id,
                   generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) - 1 AS pos,
                   unnest(string_split_regex(lower(text), '\\s+')) AS word
            FROM documents),
          quality AS (
            SELECT doc_id,
                   COUNT(*) AS n_tokens,
                   CAST(SUM(LENGTH(word)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_token_len,
                   CAST(SUM(CASE WHEN word IN (${inList(TextOps.EnStop)}) THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) AS stopword_ratio,
                   CAST(COUNT(DISTINCT word) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS type_token_ratio
            FROM words GROUP BY doc_id),
          lang AS (
            SELECT doc_id, CASE $caseExpr ELSE 'und' END AS predicted_lang
            FROM (SELECT doc_id, $hitExprs FROM words GROUP BY doc_id)),
          sh0 AS (
            SELECT doc_id,
                   word || ' ' || lead(word) OVER w || ' ' || lead(word, 2) OVER w AS sh
            FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          shingles1 AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh IS NOT NULL),
          shingles AS (
            SELECT doc_id, sh FROM (
              SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
              FROM shingles1)
            WHERE df <= ${Dedup.MaxShingleDf}),
          sigs AS (
            SELECT doc_id, h,
                   MIN(md5(CAST(h AS VARCHAR) || '|' || sh)) AS mh
            FROM shingles
            CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.NumHashes - 1})) AS h)
            GROUP BY doc_id, h),
          bands AS (
            SELECT doc_id, h // 2 AS band,
                   md5(string_agg(mh, '|' ORDER BY h)) AS bkey
            FROM sigs GROUP BY doc_id, h // 2),
          cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
          sim AS (
            SELECT c.a_id, c.b_id,
                   SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS m
            FROM cand c
            JOIN sigs x ON x.doc_id = c.a_id
            JOIN sigs y ON y.doc_id = c.b_id AND y.h = x.h
            GROUP BY 1, 2),
          lsh_pairs AS (SELECT a_id, b_id FROM sim WHERE m >= ${Dedup.NumHashes / 2}),
          edges AS (SELECT a_id AS u, b_id AS v FROM lsh_pairs
                    UNION SELECT b_id, a_id FROM lsh_pairs),
          reach AS (
            SELECT doc_id AS src, doc_id AS dst FROM documents
            UNION
            SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst),
          clusters AS (
            SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
          SELECT q.doc_id, c.cluster_id, q.n_tokens, q.avg_token_len,
                 q.stopword_ratio, q.type_token_ratio
          FROM quality q
          JOIN lang l ON l.doc_id = q.doc_id
          JOIN clusters c ON c.doc_id = q.doc_id
          WHERE c.cluster_id = q.doc_id
            AND l.predicted_lang = 'en'
            AND q.n_tokens >= $MinTokens
            AND q.stopword_ratio >= $MinStopRatio
            AND q.type_token_ratio >= $MinTypeTokenRatio
            AND q.avg_token_len >= $MinAvgLen
            AND q.avg_token_len <= $MaxAvgLen
          ORDER BY q.doc_id""")
  }
}
