package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Physical-plan audits for the headline queries: the properties that
  * make these plans survive a 100× scale-up, asserted so a refactor
  * can't silently regress them. (`explain`-and-iterate, made
  * executable.)
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Whether `df`'s plan scans the stored rows of the session-cached
    * frame `cache` (a cache is a scan of its stored rows, so its build
    * plan is not part of its consumers' plans).
    */
  private def scans(df: DataFrame, cache: DataFrame): Boolean = {
    val stored = cache.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    df.queryExecution.analyzed
      .collectWithSubqueries { case l: LogicalRDD => l.rdd }
      .exists(_ eq stored)
  }

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  /** First argument of every windowspecdefinition in the plan,
    * paren-balanced (a naive split-on-comma misreads a leading function
    * call like `pmod(x#1, 8) ASC ...`). Partition cols come first as
    * bare refs; a spec whose FIRST arg is an order spec ("... ASC/DESC
    * NULLS ...") is unpartitioned — the single-task global sort.
    */
  private def windowSpecFirstArgs(p: String): Seq[String] = {
    val marker = "windowspecdefinition("
    Iterator.iterate(p.indexOf(marker))(i => p.indexOf(marker, i + 1))
      .takeWhile(_ >= 0)
      .map { i =>
        val start = i + marker.length
        var depth = 0
        var j = start
        var done = false
        while (j < p.length && !done) {
          val c = p.charAt(j)
          if (depth == 0 && (c == ',' || c == ')')) done = true
          else {
            if (c == '(') depth += 1
            else if (c == ')') depth -= 1
            j += 1
          }
        }
        p.substring(start, j)
      }
      .toSeq
  }

  private def unpartitionedWindows(p: String): Seq[String] =
    windowSpecFirstArgs(p)
      .filter(s => s.contains(" ASC") || s.contains(" DESC"))

  test("q6 two-phase rolling window: no unpartitioned WindowExec") {
    // r17: the registered query localCheckpoints the prefix frame (the
    // self-join reads ONE materialization), which truncates the window
    // machinery out of its final plan — audit the pre-checkpoint frame
    // the query builds, and pin that the final plan has NO window at
    // all (nothing left that COULD regress to a global sort).
    val specs = windowSpecFirstArgs(
      Dashboard.q6PrefixFrame(spark, dir)
        .queryExecution.executedPlan.toString)
    assert(specs.nonEmpty)
    assert(specs.forall(_.startsWith("__pid")),
      s"window specs not all bucket-partitioned: $specs")
    assert(windowSpecFirstArgs(plan("q6_rolling_sentiment")).isEmpty,
      "q6's post-checkpoint plan should contain no window machinery")
  }

  test("no unpartitioned windows anywhere in the training tier") {
    for (q <- Seq("p2_token_budget", "p3_language_mix",
        "p4_shard_stats", "p5_sequence_pack", "p1_training_select",
        "p6_contamination", "p7_dsir_weights", "p8_quality_curriculum",
        "t11_repetition", "t12_c4_filters", "d10_dup_ngram_coverage")) {
      val bad = unpartitionedWindows(plan(q))
      assert(bad.isEmpty, s"$q has unpartitioned window specs: $bad")
    }
  }

  /** Queries allowed a global (unpartitioned) window, each with the
    * reason it's bounded: the window input is provably tiny at ANY
    * corpus scale, so the single task holds control data, not corpus.
    */
  private val globalWindowWhitelist: Map[String, String] = Map(
    "wh_q6_rolling" -> ("reference-verbatim rolling window over the " +
      "warehouse sentence fixture (6 rows at any SF — the warehouse is " +
      "a bounded ETL fixture, not the corpus); the corpus-scale rolling " +
      "query is q6_rolling_sentiment, which is two-phase GlobalPrefix"),
    // r18: t25/t27 left this whitelist — the base-vocab alphabet rank
    // is a triangular broadcast join now (id = count of strictly-
    // smaller distinct tokens), so NO query ranks through a global
    // window anymore; the remaining entries are bounded ETL fixtures.
  )

  test("no unpartitioned windows anywhere in the registry (whitelist audited)") {
    val offenders = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val bad = unpartitionedWindows(plan(q))
      if (bad.nonEmpty && !globalWindowWhitelist.contains(q)) Some(q -> bad)
      else None
    }
    assert(offenders.isEmpty,
      offenders.map { case (q, b) => s"$q: $b" }.mkString("\n"))
    // whitelist must not go stale: every entry still has its window
    for ((q, why) <- globalWindowWhitelist)
      assert(unpartitionedWindows(plan(q)).nonEmpty,
        s"$q is whitelisted ($why) but no longer has a global window — remove it")
  }

  test("d10 is join-on-shingle + hash aggs — no pair join, no cartesian") {
    val p = plan("d10_dup_ngram_coverage")
    assert(!p.contains("CartesianProduct"), "d10 has a cartesian join")
    // the coverage join keys on the shingle itself, never (a_id, b_id):
    // linear in corpus shingles, not quadratic in documents
    assert(!p.contains("a_id"), "d10 unexpectedly builds document pairs")
  }

  test("s7 encodes per-row (no join) and scores via broadcast") {
    val p = plan("s7_pq_topk")
    assert(p.contains("Broadcast"), "s7 query side is not broadcast")
    assert(!p.contains("CartesianProduct"), "s7 has a cartesian join")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "s7 scoring regressed to a shuffled join")
  }

  test("p6 probes the benchmark set via broadcast, never cartesian") {
    val p = plan("p6_contamination")
    assert(p.contains("BroadcastHashJoin"),
      "p6 benchmark containment join is not broadcast")
    assert(!p.contains("CartesianProduct"), "p6 has a cartesian join")
  }

  test("p7 joins 1-row totals via broadcast, never cartesian") {
    // r18: the registered query checkpoints its output before the sort;
    // the join shapes are pinned on the exposed pre-checkpoint frame
    // (the q6 audit discipline)
    val p = TrainingSet.dsirWeightsFrame(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"), "p7 totals are not broadcast")
    assert(!p.contains("CartesianProduct"), "p7 has a cartesian join")
  }

  test("s6 scores via broadcast, never a shuffled pair join") {
    val p = plan("s6_sq8_topk")
    assert(p.contains("Broadcast"), "s6 plan shows no broadcast")
    assert(!p.contains("CartesianProduct"), "s6 has a cartesian join")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "s6 pair join regressed to a shuffled join")
  }

  test("dedup pair joins are equi-joins, never cartesian") {
    for (q <- Seq("d2_ngram_jaccard", "d3_minhash_lsh", "d7_lsh_rescore",
        "d6_simhash_neardup", "d8_ivf_neardup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian join")
    }
  }

  test("filter pushdown reaches the parquet scan") {
    val p = plan("q3_entity_types")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThanOrEqual(l_orderkey,100)]")
      || p.contains("LessThanOrEqual(l_orderkey,100)"), p.linesIterator
        .filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("column pruning: q1 scans only the projected column") {
    val p = plan("q1_distinct_podcasts")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("c_mktsegment"))
    assert(!readSchema.contains("c_name") && !readSchema.contains("c_address"),
      readSchema)
  }

  test("small sides broadcast: q5 join and s1 query side") {
    assert(plan("q5_sentiment_pie").contains("BroadcastHashJoin"))
    assert(plan("s1_cosine_topk").contains("BroadcastNestedLoopJoin")
      || plan("s1_cosine_topk").contains("BroadcastHashJoin"))
  }

  test("w5 trailing RANGE window is one partitioned window pass, no join") {
    val p = plan("w5_time_range_window")
    assert(p.contains("Window"), "w5 lost its window operator")
    assert(!p.contains("Join"), "w5 regressed to a time-range self-join")
    assert(unpartitionedWindows(p).isEmpty,
      "w5 window must be partitioned by user_id")
  }

  test("d13 joins on the paragraph hash, never document pairs") {
    val p = plan("d13_paragraph_dedup")
    assert(!p.contains("CartesianProduct"), "d13 has a cartesian join")
    assert(!p.contains("a_id"), "d13 unexpectedly builds document pairs")
  }

  test("t14 is a pure per-row projection (no agg, no join, no window)") {
    val p = plan("t14_pii_redaction")
    assert(!p.contains("Join") && !p.contains("HashAggregate")
      && !p.contains("Window"), p)
  }

  test("p13 z-value is a projection + one hash agg (no join, no window)") {
    val p = plan("p13_zorder_layout")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(p.contains("HashAggregate"), "p13 lost its bucket aggregate")
  }

  test("w6 open/close are one hash agg via min_by/max_by — no window, no join") {
    val p = plan("w6_ohlc_resample")
    assert(p.contains("HashAggregate"), "w6 lost its hash aggregate")
    assert(!p.contains("Window") && !p.contains("Join"),
      "w6 regressed to a ranking-window or join formulation")
  }

  /** Shuffle budgets: every Exchange in these plans is accounted for;
    * a refactor that adds one fails here, not at 100 TB. Counts are the
    * current plan's exchange nodes (hashpartitioning for aggs/joins,
    * rangepartitioning for the output sort) — the BUDGET, i.e. a
    * ceiling pinned to today's shape, not an aspiration.
    */
  private val exchangeBudget: Map[String, Int] = Map(
    "d1_exact_dedup" -> 2, // md5 agg + output sort
    "q8_word_frequency" -> 2, // word agg + sorted limit
    "x10_set_ops" -> 3, // source join + ONE flag agg (r6 one-pass) + sort
    "w6_ohlc_resample" -> 2, // ONE o/h/l/c agg (no ranking window) + sort
    "t14_pii_redaction" -> 1, // pure projection: output sort only
    "w5_time_range_window" -> 2, // user_id window + output sort
    "p14_length_histogram" -> 2, // bucket agg + sort (reads cached quality)
    "x16_cube" -> 2, // ONE Expand+agg pass + sort
    "x17_grouping_sets" -> 2, // ONE Expand+agg pass + sort (same as x16)
    "q7_sentiment_proportions" -> 2, // ONE flag agg + sort
    "x15_unpivot" -> 3, // pivot's two agg exchanges + sort; melt adds none
    "d17_dup_spans" -> 7, // ddf agg (2-phase distinct) + semi join + per-doc
                          // windows + span/doc aggs + token-count join + sort
    "s12_rrf_fusion" -> 9, // two retriever rankings + overlap agg + fusion
                           // full-outer (≤ NumQueries×TopK rows/side) + sort
    "p16_release_pipeline" -> 7, // r18: the three gate slivers are lazy
                                 // localCheckpoints (their own exchanges
                                 // run at construction, §2.6 overlap);
                                 // the registered plan's spend is the
                                 // released joins + docs/quality joins +
                                 // shard ROLLUP + sort (was 14 with the
                                 // gates embedded)
    "w10_top_per_group" -> 3, // (type,day,user) agg + group-limit window
                              // repartition + output sort
    "w11_decayed_engagement" -> 4, // ref-day agg + its 1-row broadcast +
                                   // user agg + output sort
    "d19_dup_span_removal" -> 7, // d17's shape (gram windows ride the words
                                 // cache): ddf/min agg + gram join + marked
                                 // distinct + flag join + doc agg + sort
    "s13_ivf_pq_topk" -> 6, // probe agg + its broadcast + bucket join sides
                            // + top-k window + output sort
    "t19_gopher_rules" -> 4, // words agg (countDistinct 2-phase) + 1:1
                             // doc_id join side + output sort
    "x20_bloom_join" -> 3, // join sides (probe PRE-pruned in scan stage)
                           // + priority agg + sort
    "w12_interval_join" -> 3, // (user,bucket) join + per-purchase agg
                              // + output sort
    "w13_rate_anomalies" -> 4, // bucket agg + axis join + rolling window
                              // + group-limit/rank + sort (axis rides
                              // the agg's partitioning)
    "w14_transition_matrix" -> 4, // user window + pair agg + from_total
                                  // window (metadata-sized) + sort
    "w15_rolling_distinct" -> 6, // (user,day) distinct + mx broadcast +
                                 // two-distinct Expand agg phases + sort
    "p20_holdout_split" -> 5, // doc/quality join sides + countDistinct
                              // 2-phase agg + post-agg total window
                              // (r8: was 7 with a broadcast-total
                              // branch re-running the join) + sort
    "t20_pretoken_counts" -> 1, // pure projection: output sort only
    "s15_srp_lsh_topk" -> 6, // probe broadcast + cand distinct + rescore
                            // join sides + top-k window + sort
    "w21_scd2_history" -> 2, // ONE user exchange serves the event
                             // window + runs agg + runs window (same-
                             // prefix partitionings chain) + output sort
    "w22_pit_enrichment" -> 3, // r18: w22 consumes the UNSORTED version
                               // derivation (scd2Versions) — its user
                               // exchange chains straight into the asof
                               // exec's requirement (same key), so the
                               // spend is the two asof-side exchanges +
                               // output sort (was 5 embedding w21's
                               // global orderBy, whose rangepartitioning
                               // was immediately re-shuffled)
    "s22_filtered_topk" -> 4, // filter equi-join sides + top-k window
                              // + output sort (query side broadcast)
    "s23_ivf_filtered_topk" -> 6, // assign/filter join sides + probe
                                  // bucket join + top-k window + sort
    "s21_ivf_maintenance" -> 8, // measured ceiling: two assignment passes
                                // (broadcast centroids, map-side agg to
                                // <= k rows) + base/batch joins + sort
    "p22_bpe_budget" -> 11, // measured ceiling: quality⋈tokens join +
                           // GlobalPrefix two-phase + budget broadcast
                           // + output sort (BPE frame session-cached)
    "s19_srp_multi_topk" -> 6, // corpus band/probe frames are session-
                               // cached (r11: the t24 discipline — the
                               // s18 ladder replays them free); the
                               // query's own spend is the probe
                               // broadcast + cand distinct + rescore
                               // join sides + top-k window + sort
    "d20_cluster_sizes" -> 8, // ceiling with a COLD label cache (d9's
                              // propagation rounds); the audit's own
                              // spend is 2 shrinking aggs + a post-agg
                              // total window + sort (r8: was 11 with a
                              // broadcast-total branch)
    "d21_sketch_calibration" -> 10, // cand/est joins + truth inverted-
                                    // index join + decile agg + sort,
                                    // cold-cache ceiling (re-tightened
                                    // r18: measured 10 at sf0.001 and
                                    // sf0.1). The cand⋈inter pair join
                                    // plans as SMJ pre-AQE — both
                                    // sides' size estimates are join-
                                    // output guesses — and AQE
                                    // converts it from the runtime
                                    // sizes; a broadcast HINT would
                                    // pin a scale hazard (candidate
                                    // pairs grow with the corpus), so
                                    // the planner's posture stands
    "t22_ppl_buckets" -> 14, // t16's bigram pipeline (4 count aggs + 3
                             // joins) + lang join + per-lang windows +
                             // bucket agg + sort, cold-cache ceiling
    "t23_lang_confusion" -> 5, // t6 hits agg + lang join sides + matrix
                               // agg + declared window (metadata) + sort
    "d22_cdc_chunks" -> 5, // per-doc boundary window + chunk agg +
                           // chash df agg + df join + output sort
    "p21_packing_efficiency" -> 4, // p5's shard window + bin agg +
                                   // ROLLUP Expand agg + sort
    "w19_traffic_profile" -> 2, // one hash agg to <=168 cells (+ the
                                // post-agg total window rides it) + sort
    "w18_linear_attribution" -> 4, // (user,bucket) touch join + pid
                                   // window + type agg (+ post-agg
                                   // share window rides it) + sort
    "w17_asof_native" -> 3, // one hash exchange per asof side (placed by
                            // EnsureRequirements from the exec's declared
                            // distribution — not hand-scheduled) + output
                            // sort; the merge itself holds ONE row
    "s16_ivf_respq_topk" -> 9, // measured ceiling: residual frame =
                               // assignTo agg + vec_id join sides
                               // (uncached, recomputed per call) +
                               // probe agg/broadcast + bucket join +
                               // top-k window + output sort
    "t24_keywords" -> 3, // measured ceiling: one scan of the cached
                         // t8 score frame + group-limit window
                         // exchange + output sort (the former budget
                         // of 10 paid t8's tf agg TWICE — both the df
                         // branch and the score join — before the
                         // frame was session-cached)
    "d23_pagerank_central" -> 2, // final-round join sides + output sort
                                 // over the per-round localCheckpoints
                                 // (lineage truncated — the unbroken
                                 // k=4 plan measured 84 exchanges)
    "w20_top_paths" -> 2, // ONE user exchange serves the stacked
                          // windows + session/path aggs (same-prefix
                          // partitionings chain without re-shuffling);
                          // + the path agg exchange; top-10 is a
                          // TakeOrdered, no global sort
    "m6_av_align" -> 5, // measured ceiling: the native asof exec's two
                        // requirement-placed hash exchanges (chunk and
                        // frame generators ride the scan projection) +
                        // output sort
    "s17_bm25_topk" -> 12, // measured ceiling: broadcast-pruned posting
                           // scan + ONE tf agg + cached-dl broadcast +
                           // 1-row stats broadcasts + score agg +
                           // group-limit window + output sort; query
                           // terms + df are fit-time control data
                           // (LocalTableScan, no distributed distinct)
    "s24_ivf_pq_refine" -> 7, // s13's 6 (probe agg + broadcast + bucket
                              // join sides + ADC window + sort) + the
                              // refine's raw-vector point join; the
                              // rescore window rides the ADC window's
                              // q_id partitioning
    "t26_quality_classifier" -> 9, // measured ceiling with WARM caches
                                   // (labels + feature frame session-
                                   // cached): training agg (countDistinct
                                   // 2-phase) + totals broadcast + weight
                                   // broadcast + inference agg + sort
    "m7_phash_neardup" -> 7, // hot-bucket census agg + anti-join and
                             // candidate-join sides over the cached
                             // signature frame + 2-phase pair distinct
                             // + sort (was 10 with the signature agg
                             // re-evaluated per branch)
    "m8_media_clusters" -> 3, // warm-cache spend: doc⟕labels join sides
                              // over the cached contraction labels +
                              // output sort
    "t27_bpe_decode" -> 15, // cold ceiling: the shared segf/vocab build
                            // (distinct-word agg + alphabet ranking +
                            // vocab agg) + decode joins + verdict join
                            // + per-doc agg + sort
    "p24_temperature_mix" -> 15, // cold ceiling incl. the quality-score
                                 // cache build; own spend is one lang
                                 // agg + two 1-row broadcasts + sort
    "w16_conversion_latency" -> 4 // w4's user window + bucket agg + the
                                  // global-total window over <=64 post-agg
                                  // rows + sort; the r8 rewrite removed
                                  // the broadcast-total branch that
                                  // re-ran the asof pass a second time
  )

  /** Exchanges the query itself spends — traversal stops at cache
    * boundaries (an InMemoryTableScan's child plan describes how the
    * SHARED cache was built, which every consumer's plan string
    * re-displays; counting it would make budgets depend on which suite
    * populated the cache first).
    */
  private def exchangesOutsideCache(
      p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
    // AQE wraps the real plan and exposes NO children — unwrap, or
    // every count is silently 0 and the budget test asserts nothing
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      exchangesOutsideCache(a.executedPlan)
    case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => 0
    case e: org.apache.spark.sql.execution.exchange.Exchange =>
      1 + e.children.map(exchangesOutsideCache).sum
    case other => other.children.map(exchangesOutsideCache).sum
  }

  test("shuffle budgets: headline plans spend no unaccounted Exchange") {
    for ((q, budget) <- exchangeBudget.toSeq.sortBy(_._1)) {
      val n = exchangesOutsideCache(
        graft.SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan)
      assert(n <= budget, s"$q spends $n exchanges, budget $budget")
      info(s"$q: $n/$budget exchanges")
    }
  }

  test("d13/d16/d22 compute their paragraph/chunk aggregate ONCE") {
    // r17 opt: the document-frequency count attaches via COUNT windows
    // over the aggregate's own (hash, doc) grain. The pre-r17 shape —
    // a self-join against a hash-grain countDistinct — planned the
    // corpus-sized collect_list subtree TWICE; a reintroduction would
    // double the partial_collect_list count below. (These aggregates
    // are not session-cached, so the plan string counts only the
    // query's own spend.)
    def nCollect(q: String) =
      "partial_collect_list".r.findAllIn(plan(q)).length
    assert(nCollect("d22_cdc_chunks") <= 1,
      "d22's chunk aggregate must be computed once")
    assert(nCollect("d13_paragraph_dedup") <= 1,
      "d13's paragraph aggregate must be computed once")
    // d16 legitimately has a second collect_list: the clean_text
    // document reassembly in its final fold
    assert(nCollect("d16_boilerplate_strip") <= 2,
      "d16's paragraph aggregate must be computed once")
  }

  test("q7 is ONE hash aggregate + projection — no join anywhere") {
    // the r6 bench flagged q7 at 5.5×; the flag was host contention
    // (cleared by the r7 interleaved bench), but the forensics belong
    // in the plan record: there is nothing here that CAN regress into
    // a shuffle explosion — one agg over lineitem, ratio projection,
    // output sort
    val p = plan("q7_sentiment_proportions")
    assert(p.contains("HashAggregate"), "q7 lost its hash aggregate")
    assert(!p.contains("Join"), s"q7 must not join:\n$p")
  }

  test("wh_q7 builds the broadcast on the sentence side (J2 path)") {
    // the entity⟕sentence join the verdict asked to pin: the sentence
    // scores are warehouse-fixture-sized at every SF (bounded ETL
    // fixture, not corpus), so the join must stay a broadcast — a
    // shuffled join here would drag the entity side through an
    // exchange for a control-plane-sized build
    val p = plan("wh_q7_proportions")
    assert(p.contains("BroadcastHashJoin"),
      s"wh_q7 sentence side is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "wh_q7 regressed to a shuffled join")
  }

  test("d17 reads the shared marked-grams frame — no pair join, no cartesian") {
    // r12: d17/d19/d24 share ONE duplicated-gram computation per
    // (session, dir) — the flag join (1:1 per gram, no fan-out) lives
    // inside the cached frame; each consumer's own plan must read the
    // cache, never rebuild the gram agg
    // r18: pinned on the pre-checkpoint frame (the q6 audit discipline)
    val d17 = Dedup.dupSpansFrame(spark, dir)
    val p = d17.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "d17 has a cartesian join")
    assert(scans(d17, Dedup.cachedMarkedGrams(spark, dir)),
      "d17 no longer reads the shared marked-grams session cache")
    assert(!p.contains("a_id"), "d17 unexpectedly builds document pairs")
  }

  test("s12 broadcasts both query sides; fusion join is list-sized") {
    val p = plan("s12_rrf_fusion")
    assert(!p.contains("CartesianProduct"), "s12 has a cartesian join")
    // semantic side: s1's broadcast-queries scan; lexical side: the
    // broadcast query-shingle probe — the corpus never builds a hash
    // table over itself
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "s12 semantic query side is not broadcast")
    assert(p.contains("BroadcastHashJoin"),
      "s12 lexical query-shingle side is not broadcast")
  }

  test("p16 funnel composes narrow joins — no cartesian anywhere") {
    val p = plan("p16_release_pipeline")
    assert(!p.contains("CartesianProduct"), "p16 has a cartesian join")
  }

  test("d2/d7 shingle joins carry the document-frequency cap") {
    // the cap is a hash-agg over sh + an anti-join against the hot
    // list (never a count-window partitioned by sh — that would be the
    // hot-key single task the cap exists to avoid). It is built into
    // the session-cached shingles, so it is pinned on their
    // pre-checkpoint frame, and d2/d7 must read that cache.
    val p = Dedup.shingles(spark, dir).queryExecution.executedPlan.toString
    assert("df#\\d+L? > 100".r.findFirstIn(p).isDefined,
      "shingles plan shows no hot-shingle filter")
    assert(p.contains("LeftAnti"), "shingles plan shows no anti-join")
    for (q <- Seq("d2_ngram_jaccard", "d7_lsh_rescore"))
      assert(scans(graft.SparkEntry.queries(q)(spark, dir),
        Dedup.cachedShingles(spark, dir)), s"$q does not read the capped shingles")
  }
}
