package graft

import org.apache.spark.sql.functions._

/** Plan-shape guards for the properties that matter at 100 TB: filters
  * reaching the parquet scan, dimensions broadcasting, aggregation
  * running partial+final. The DuckDB gate checks values; these checks
  * keep the PLANS from silently regressing (e.g., a refactor that slips
  * a filter above a join or de-broadcasts a dimension).
  */
class PlanShapeSpec extends SparkSpec {
  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan.toString

  /** Every query's executed plan, built once for the all-query lints. */
  private lazy val allPlans
      : Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf0001).queryExecution.executedPlan
    }

  test("q1: shipdate filter is pushed into the parquet scan") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed to scan:\n$p")
    assert(!p.contains("ReadSchema: struct<l_orderkey"),
      "unused columns must be pruned from the scan")
  }

  test("q1: aggregation is partial then final around one exchange") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("partial_sum"), "map-side combine missing")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one hash exchange:\n$p")
  }

  test("q2: all four dimension joins broadcast, no sort-merge") {
    val p = planOf("q2_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), "a dim join fell back to sort-merge")
  }

  test("q48/q161: fuzzy-name joins keep the compound (noun, len_bkt) block key") {
    Seq("q48_fuzzy_names", "q161_jaro_names").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q candidate generation must stay an equi-join:\n$p")
      // both key columns must be in the join's partitioning/equi keys —
      // dropping len_bkt silently reverts to the single-key quadratic block
      assert(p.contains("noun") && p.contains("len_bkt"),
        s"$q must join on (noun, len_bkt):\n$p")
    }
  }

  test("q51: LSH candidate join is an equi-join on the band key, not a cross product") {
    val p = planOf("q51_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidate generation must stay an equi-join:\n$p")
  }

  test("q53: the 5-row query side broadcasts under the scored cross join") {
    val p = planOf("q53_topk_nn")
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastHashJoin"),
      s"query vectors should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "cross join must not be partition-wise")
  }

  test("q49: jaccard candidates ride the prefix-token inverted index, never block all-pairs") {
    // the r6 change: any self-join on the block keys alone is quadratic
    // in block size — every candidate join must also carry the
    // rarest-token prefix key (lossless per AllPairs/PPJoin)
    val p = planOf("q49_token_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidate generation must stay an equi-join:\n$p")
    val blockJoins = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("len_bkt"))
    assert(blockJoins.forall(_.contains("ptok")),
      s"a join matches on the block keys without the prefix token:\n$p")
    assert(p.contains("ptok"), s"prefix index missing from the plan:\n$p")
  }

  test("q50: gram-inverted-index candidates keep the similarity join an equi-join") {
    val p = planOf("q50_chargram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidate generation must stay an equi-join on the gram key:\n$p")
  }

  test("AnnIvf.topK ranks via TakeOrderedAndProject, not a global window over the corpus") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = ops.AnnIvf.train(emb, "embedding", "vec_id", k = 4, iters = 1)
    val assigned = ops.AnnIvf.assign(emb, "embedding", model)
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val top = ops.AnnIvf.topK(assigned, "embedding", "vec_id", model, qv,
      k = 10, nProbe = 2)
    val p = top.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate ranking must be per-partition top-k + merge:\n$p")
    // the only Window allowed is the rnk attach over the k-row result,
    // which must sit ABOVE the TakeOrderedAndProject, never below it
    val winIdx = p.indexOf("Window")
    val topIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx < topIdx,
      s"global ranking window below the top-k — corpus-wide single partition:\n$p")
    assert(top.count() == 10)
  }

  test("q43: document-frequency and corpus-count model tables broadcast") {
    val p = planOf("q43_tfidf")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"df/N model tables must broadcast, never shuffle the tf stream:\n$p")
    assert(!p.contains("CartesianProduct"), "the one-row N join must broadcast")
  }

  test("q9: theta join keeps its equi key — sort-merge, never nested-loop") {
    val p = planOf("q9_ship_delay")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"range predicate must ride an equi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "date-range condition must not degrade to a nested loop")
  }

  test("q57: tumbling window aggregates partially before the shuffle") {
    val p = planOf("q57_tumbling")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"window-bucket agg must map-side combine:\n$p")
  }

  test("q40: text queries prune unused document columns at the scan") {
    val p = planOf("q40_word_count")
    assert(!p.contains("props") && !p.contains("source"),
      s"unused columns must never reach the scan:\n$p")
  }

  test("q77: snapshot diff is one join, never a nested loop") {
    val p = planOf("q77_snapshot_diff")
    assert(p.contains("FullOuter") &&
      (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
      s"diff must be a single keyed full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "version compare must never degrade to a nested loop")
  }

  test("q83: record-linkage candidates come from an equi-join on the block keys") {
    val p = planOf("q83_record_linkage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"blocking must keep candidate generation an equi-join:\n$p")
  }

  test("q87: contamination check broadcasts the benchmark shingle set") {
    val p = planOf("q87_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark side must broadcast — corpus must not shuffle:\n$p")
  }

  test("partitioned sink output prunes partitions on a partition-key filter") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toString + "/docs"
    Tables.documents(spark, sf0001).write.partitionBy("lang").parquet(dir)
    val p = spark.read.parquet(dir).filter(col("lang") === "en")
      .select("doc_id").queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang") ||
      p.contains("PartitionFilters: [(lang"),
      s"lang filter must prune directories, not scan them:\n$p")
  }

  test("q90: cluster labeling joins broadcast — the corpus never shuffles for its labels") {
    val p = planOf("q90_dedup_clusters")
    assert(p.contains("BroadcastHashJoin"),
      s"the (id, component) label table must broadcast onto documents:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "pipeline must stay on equi-joins end to end")
  }

  test("q91: repetition filter is a pure per-row map — no shuffle before the final sort") {
    val p = planOf("q91_repetition")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a per-row quality filter must not hash-shuffle:\n$p")
    assert(!p.contains("Join"), "no join belongs in a per-document map")
  }

  test("q93: the per-lang percentile threshold table broadcasts onto the corpus") {
    val p = planOf("q93_length_filter")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny cuts table must broadcast — the corpus must not shuffle for it:\n$p")
  }

  test("q22/q41: top-N-per-group plans push the rank limit below the shuffle (WindowGroupLimit)") {
    // Spark 4's WindowGroupLimit keeps only each group's top-N rows on
    // the map side before the window sort — the difference between
    // shuffling N rows per group and shuffling the corpus at 100 TB.
    // Guard it so a refactor (e.g. filtering on a derived column) never
    // silently drops the pushdown.
    for (q <- Seq("q22_top3_per_customer", "q41_top_terms")) {
      val p = planOf(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q lost the rank-limit pushdown:\n$p")
    }
  }

  test("q96: backward and forward fill windows share one exchange") {
    // both frames use the same (partitionBy priority, orderBy day)
    // spec, so Spark must plan ONE priority-keyed exchange feeding both
    // Window nodes — a second one would double-shuffle the series
    val p = planOf("q96_interpolate")
    val windowExchanges =
      "hashpartitioning\\(o_orderpriority".r.findAllIn(p).size
    assert(windowExchanges == 1,
      s"expected one shared window exchange, found $windowExchanges:\n$p")
  }

  test("q98: quantile binning ranks range-partitioned — no single-reducer fact sort") {
    // the old ntile(10) OVER (ORDER BY …) form pulled every order
    // through one partition; the replacement must keep NTILE's exact
    // bucket assignment while every stage stays parallel
    val p = planOf("q98_qcut")
    assert(!p.contains("ntile("),
      s"global ntile window must not reappear:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no stage may single-partition the fact table:\n$p")
    assert(p.contains("OrderedCarry") && p.contains("rangepartitioning(o_totalprice"),
      s"ranks must come from the ordered carry over a range exchange:\n$p")
  }

  test("q62: native as-of join plans with sorted, hash-clustered children") {
    val df = SparkEntry.queries("q62_asof_native")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    // the exec node prints without its Exec suffix
    assert(p.contains("AsofJoin "), s"plan:\n$p")
    assert(p.contains("Sort ["), "children must arrive sorted for the merge")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "both sides must co-partition on the key")
  }

  test("q169: last-touch attribution routes through the native as-of exec") {
    // The attribution join must plan as AsofJoinExec's tolerance path
    // (two-pointer merge, one buffered right row per partition), never
    // fall back to the window rewrite (left join + row_number over every
    // candidate click pair — candidate-count state instead of O(1)).
    val df = SparkEntry.queries("q169_attribution")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin "), s"native as-of exec missing:\n$p")
    assert(!p.contains("row_number"),
      s"window-rewrite fallback must not reappear:\n$p")
  }

  test("q188: debounce rides ONE keyed exchange for both the lag and the count") {
    // the lag window and the (user, type) aggregate share the same
    // hash partitioning — a second exchange would mean the groupBy
    // stopped reusing the window's clustering
    val p = planOf("q188_debounce")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"debounce must not re-shuffle between window and agg:\n$p")
  }

  test("q196: all three attribution windows share one purchase-keyed exchange") {
    // weight sum, base-credit sum, and remainder rank are all
    // pid-partitioned — the q117 proration discipline; a second
    // pid exchange would double the fact shuffle
    val p = planOf("q196_time_decay")
    assert("Exchange hashpartitioning\\(pid".r.findAllIn(p).size == 1,
      s"attribution windows must share the pid exchange:\n$p")
    assert("Window".r.findAllIn(p).size >= 3, "expected the three windows")
  }

  test("runtime bloom-filter join pruning engages on a selective fact join") {
    // The cluster-scale shuffle reducer Catalyst provides for free:
    // when one join side carries a selective predicate, InjectRuntimeFilter
    // builds a bloom filter over its join keys and semi-filters the OTHER
    // side's scan BEFORE the shuffle (`might_contain` in the plan). At
    // 100 TB this drops most of the fact-table shuffle for dimension-
    // filtered joins. Guard: the feature stays ON in this Spark build and
    // engages for the canonical shape (lineitem ⋈ orders filtered to one
    // priority) once the local-mode size thresholds are lowered — a
    // regression here (conf renamed, default flipped, planner stops
    // matching) should fail loudly, not silently cost a full shuffle.
    val conf = spark.conf
    val enabled = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val appThresh =
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val bcThresh = "spark.sql.autoBroadcastJoinThreshold"
    val saved = Seq(enabled, appThresh, bcThresh)
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set(enabled, "true")
      conf.set(appThresh, "0") // fixture scans are tiny; always consider
      // runtime filters only pay off (and only inject) on SHUFFLE joins;
      // at fixture scale the filtered side would broadcast, so pin the
      // cluster-scale shape the guard is about
      conf.set(bcThresh, "-1")
      val l = Tables.lineitem(spark, sf0001)
      val o = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter did not engage:\n$p")
      assert(p.contains("bloom_filter_agg"),
        "bloom build side missing from the plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q117: the three proration windows share one orderkey exchange") {
    val p = planOf("q117_proration")
    assert(!p.contains("Exchange SinglePartition"), s"plan:\n$p")
    // denominator sum, shortfall sum, and remainder rank must all run
    // on the l_orderkey partitioning — re-shuffling between windows
    // would triple the fact shuffle
    assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size <= 1,
      s"proration must shuffle the joined fact once:\n$p")
  }

  test("q120: three quantile passes, zero single-partition sorts") {
    val p = planOf("q120_rfm_segments")
    assert(!p.contains("Exchange SinglePartition"),
      s"an RFM tile fell back to a global window:\n$p")
    assert(!p.contains("ntile("), s"no global ntile window:\n$p")
  }

  test("q125: bounded dims broadcast; no dimension cross product") {
    val p = planOf("q125_snowflake")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"snowflake must stay equi-joined:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"nation/region must broadcast:\n$p")
  }

  test("q127: weighted-sample rank filter compiles to WindowGroupLimit") {
    val p = planOf("q127_weighted_sample")
    assert(p.contains("WindowGroupLimit"),
      s"top-n-per-group must push a group limit, not full-sort:\n$p")
  }

  test("triangle family: edge caches present, exchange budget pinned") {
    // The round-9 lineage cut (Triangles caches canon + oriented; the
    // q176/q194 edge sets cut their basket-pair build) halved the
    // family's bench cost. This pins it executably: if a refactor drops
    // a cache or re-derives the edge build per consumer, the exchange
    // count grows or the cache scan disappears and this fails — the
    // regression shows here instead of as a silent 2× in BENCH_r{N}.
    val pins = Seq(
      // (query, cache marker, max hash exchanges)
      // q105/q194 ride Triangles' lazy localCheckpoints (NOT persist —
      // a CacheManager entry with no unpersist hook leaks for the JVM's
      // life; see Triangles.scala) → Scan ExistingRDD
      ("q105_triangles", "Scan ExistingRDD", 3),
      ("q194_clustering_coef", "Scan ExistingRDD", 3),
      // q176 cuts lineage with an eager localCheckpoint (the scalar m
      // needs the materialization anyway) → Scan ExistingRDD
      ("q176_modularity", "Scan ExistingRDD", 5))
    for ((q, marker, maxEx) <- pins) {
      val plan = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.executedPlan
      // tree-walk, not toString counting: InMemoryTableScan PRINTS its
      // whole cached plan (exchanges included), but the cached subtree
      // is not an operator child, so collect() sees only work this
      // query actually schedules beyond the caches
      val ex = plan.collect {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
      }.size
      val nodeNames = plan.collect { case n => n.nodeName }.mkString(" ")
      assert(plan.toString.contains(marker),
        s"$q: expected the edge-set cache ($marker) in the plan:\n$plan")
      assert(ex <= maxEx,
        s"$q: $ex hash exchanges (pinned ≤ $maxEx) — an edge-build " +
          s"subtree is probably re-executing per consumer:\n$plan")
      assert(!nodeNames.contains("CartesianProduct") &&
          !nodeNames.contains("SortMergeJoin"),
        s"$q: triangle family must stay broadcast equi-joins:\n$plan")
    }
  }

  test("nested-loop joins appear ONLY on the PLANS.md-enumerated allowlist") {
    // the PLANS.md header contract as an executable guard: cartesian /
    // broadcast-nested-loop plans are expected ONLY where a deliberate
    // tiny-side broadcast exists — q10's bounded pair matrix, the
    // one-row bounds/corpus-count/vocab-size sides of
    // q43/q79/q88/q95/q96/q99/q103/q110/q146, and
    // the broadcast query sides of q52/q53 — and even there at most ONE
    // per plan. Any other query earning either operator (a dropped
    // broadcast hint, a join condition that stopped being an equi-join)
    // is a quadratic scale regression this test turns from a PLANS.md
    // review note into a hard failure. CartesianProduct (partition-wise,
    // both sides shuffled N×M) is never acceptable, allowlisted or not.
    val allowedBnlj = Set("q10_cross_matrix", "q43_tfidf", "q52_cosine",
      "q53_topk_nn", "q79_date_spine", "q88_histogram", "q95_forward_fill",
      "q96_interpolate", "q99_bm25", "q103_lm_score", "q110_brand_basket",
      "q146_psi",
      // r9: the chi-square contingency grid — R×C ≤ 100 rows from two
      // broadcast margins; the corpus itself never enters the cross join
      "q186_chi2",
      // r10: q199's basket count N (1-row broadcast, replacing the old
      // separate count() action) and q202's 3-row broadcast query fleet
      // (the q52/q53 pattern)
      "q199_itemsets3", "q202_mmr_rerank",
      // r10: q206's 1-row pair-count broadcast over the checkpointed
      // 66k-pair set (the day-pair build itself — a bounded all-pairs
      // over a scale-constant ≤365-day series — is under the
      // checkpoint and never re-plans)
      "q206_theil_sen",
      // r11: q236's 5-row global priority census under the
      // quasi-group grid and q238's 5-row query-language fleet (the
      // q52/q53 broadcast-query pattern)
      "q236_t_closeness", "q238_rank_eval",
      // r11 batch 4: q242's 1-row bounds broadcast (replacing q175's
      // driver-side .head() pattern), q244's 1-row × 1-row aggregate
      // join, and q245's single 4-row degree-ladder range join over
      // the tagged census union
      "q242_km_greenwood", "q244_cramer_von_mises", "q245_rich_club",
      // r11 batch 5: q248's 1-row tie-census join (the pair build and
      // the trailing-window cut both sit under lazy checkpoints)
      "q248_mann_kendall",
      // r11 batch 6: q253's 1-row day-count broadcast onto the moment
      // aggregate (the demeaning broadcast sits under its cum checkpoint)
      "q253_kpss",
      // r12: q242's in-plan 1-row bounds broadcast backported to its
      // siblings q175/q200/q224 (r11 verdict mandate; the REST of the
      // builder-path .head() fetches went in r13 — see below)
      "q175_kaplan_meier", "q200_nelson_aalen", "q224_log_rank",
      // r12 batch 2: q256's 1-row centered-mean broadcast onto the cent
      // census and q259's 1-row grand-median broadcast
      "q256_jarque_bera", "q259_mood_median",
      // r12 batch 3: q261's 1-row MoM-prior broadcast onto the part
      // census, q262's 1-row tmax cut PLUS its ≤365-row Walsh pair
      // build (two irreducible nested loops — see bnljMax), and q273's
      // 1-row pooled-moment broadcast onto the 2-row arm table (the
      // corpus-end bounds each ride the q242 in-plan form)
      "q261_eb_shrinkage", "q262_hodges_lehmann", "q273_cuped",
      // r13: q275's 1-row Σε²/n denominator broadcast onto the ≤6-row
      // per-lag aggregate (its other totals broadcast sits under the
      // eps lazy checkpoint, q262-style)
      "q275_ljung_box",
      // r13: the FINAL .head() sweep — every remaining build-time
      // bounds/totals fetch in a query builder became the q242 in-plan
      // 1-row broadcast: q133's reach count onto the 5-row event-type
      // table, q184's point-estimate moments onto the 1-row CI
      // aggregate, and q121's corpus bigram/unigram totals onto the
      // filtered bigram table. (q146/q165 went window-over-census
      // instead — no nested loop.)
      "q133_wilson_reach", "q184_bootstrap", "q121_pmi",
      // r13: q272's 5-row query-language fleet (the q238
      // broadcast-query pattern)
      "q272_err20",
      // r13: q279's 1-row straddle-audit broadcast onto the 5-row
      // fold census (the q242 form; the CC labels broadcast is a
      // plain BroadcastHashJoin)
      "q279_leakage_folds",
      // r18: q404's 1-row exact-medians broadcast onto the ≤365-row
      // day census (the q242 form; the tmax cut sits under the
      // census checkpoint like q262's)
      "q404_blomqvist_beta",
      // r19: q411's 1-row tmax cut onto the ≤365-row day census
      "q411_watson_u2",
      // r13 batch 2: q283's 1-row n/T census broadcast onto the
      // per-customer frame (the q242 form), q284's 10-row depth grid
      // joined onto the ≤10-row overlap frame (both sides literal-
      // bounded), q285's 1-row tie-census broadcast onto the 1-row
      // object aggregate, and q286's 1-row vocabulary-size broadcast
      // onto the bigram-model join
      "q283_inequality", "q284_rbo", "q285_kendall_w", "q286_lm_score",
      // r13 batch 3: q291's 1-row moment broadcast onto its census
      // (the q256 shape); q292's ≤364-row embedded-census pair build
      // (the q262 Walsh shape — recency cut + tolerance broadcasts sit
      // under the lazy checkpoint)
      "q291_dagostino_k2", "q292_sample_entropy",
      // r13 batch 4: q296's 1-row global-moment broadcast onto the
      // ≤612-cell grid census (the q242 form — Gi* needs corpus mean/sd
      // at every cell)
      "q296_getis_gi",
      // r13 batch 5: q299's minimax isotonic fit — the ≤20-row score-bin
      // census self-joined on bin ≤ bin (the O(B³) closed form; bounded
      // by construction, never by data volume)
      "q299_isotonic_fit",
      // r13 batch 7: q305's 1-row (N,S) binary-threshold broadcast onto
      // the grid census; q306's 1-row Gram-solution broadcast onto the
      // per-order census (the q242 form — residuals need the betas at
      // every row); q308's census-sized water-level broadcasts (see
      // bnljMax)
      "q305_join_counts", "q306_breusch_pagan", "q308_water_fill",
      // r13 batch 8: q309's 1-row day-count broadcast onto the calendar
      // census; q311/q312's 1-row Gram-solution broadcast onto the
      // per-order census (the q306 shape — residuals/leverage need the
      // adjugate at every row)
      "q309_chow_break", "q311_white_hc1", "q312_cooks_distance",
      // r13 batch 9: q313's 1-row vocab-totals broadcast onto the
      // Heaps-capped word-ratio census; q314's 1-row control-arm
      // broadcast onto the calendar walk; q315's 1-row moment/adjugate
      // broadcast onto the per-order census (the q312 shape)
      "q313_dsir_weights", "q314_sprt_monitor", "q315_mahalanobis",
      // r13 batch 10: q316's Gram-solution broadcast onto the residual
      // census plus the 3-row alpha-level broadcast onto the |e| census
      // (see bnljMax); q317 is join-free
      "q316_conformal",
      // r14: q179's per-class corpus-token totals — the LAST build-time
      // .collect()(0) in any query builder, converted to the q121/q242
      // in-plan 1-row broadcast form (verdict r13 mandate #1)
      "q179_keyness",
      // r14 batch A (econometrics on the day census): q322/q324's
      // 1-row series-totals broadcast onto the ≤7-row lag census (the
      // q275 shape) and q325's 1-row AR(1)-fit broadcast back onto the
      // checkpointed day census (the q242 form)
      "q322_newey_west", "q324_diebold_mariano", "q325_arch_lm",
      // r14 batch B: q326's 1-row exact-count broadcast onto the 1-row
      // sketch aggregate (the q244 aggregate-pair shape) and q328's
      // 1-row point-count broadcast onto the 1-row pair census
      "q326_kmv_distinct", "q328_ripley_k",
      // r14 batch D: q332's 1-row exact-overlap broadcast onto the
      // 1-row sketch aggregate (the q326 shape)
      "q332_kmv_overlap",
      // r15: q333's ≤25-row hub-table broadcast under the customer
      // fact scan — the deliberate 25n candidate build the haversine
      // kernel censuses map-side (no fact shuffle)
      "q333_hub_bands",
      // r15: q335's 1-row broadcast of the collect_list'd 25-hub
      // ARRAY — the in-row argmin fold that keeps the fact table
      // unshuffled (no per-customer window, no candidate exchange)
      "q335_nearest_hub",
      // r15: q336's 1-row (n, total) mean broadcast back onto the
      // checkpointed day census (the q242 form — the runs dichotomy
      // needs the exact mean comparison at every day)
      "q336_runs_test",
      // r15: q340's 5-row broadcast query fleet under the candidate
      // scan (the q52/q53 pattern)
      "q340_trunc_agreement",
      // r15: q344's 1-row S-statistic x 1-row variance-census join
      // (the q248 shape; the trailing-window cut sits under the lazy
      // checkpoint)
      "q344_seasonal_mk",
      // r15: q347's 1-row (n, k, sd) broadcast picking the Qn rank on
      // the bounded pair census (the q242 form)
      "q347_qn_scale",
      // r15: q348's 1-row true-population-mean broadcast onto the
      // 1-row estimator aggregate (the q244 aggregate-pair shape)
      "q348_post_stratified",
      // r16: q357's 1-row global (mn, mx) bounds broadcast under the
      // fact scan that assigns histogram bins (the q88/q242 form; the
      // quarterly merge and interpolation run on the ≤8×32-bin census)
      "q357_hist_rollup",
      // r16: q359's 1-row Holt-Winters init broadcast (l0 + first-week
      // seasonal vector) onto the 1-row collected-series aggregate —
      // the q244 aggregate-pair shape; the recursion itself is an
      // in-row fold over the scale-constant day series
      "q359_holt_winters",
      // r16: q360's 5-row query-language fleet broadcast (the exact
      // q238/q340 broadcast-query pattern)
      "q360_rbp",
      // r16: q365's 5-row query-language fleet broadcast (the same
      // q238/q360 pattern — bpref shares q360's ranked frame)
      "q365_bpref",
      // r16: q368's 1-row member-count broadcast onto the 2-row FPR
      // census (the q244 aggregate-pair shape; the filter build and
      // probe joins are plain broadcast-hash)
      "q368_bloom_fpr",
      // r16: q369 carries q175's 1-row (corpus end, user total)
      // bounds broadcast TWICE — once under the KM chain, once under
      // the naive-mean comparator (both the allowlisted q242 form;
      // everything after the per-user agg is a ≤|days|×3 census)
      "q369_rmst",
      // r16: q373's 1-row (corpus end, user total) bounds broadcast
      // under the per-user agg — the identical q175/q242 form
      "q373_aalen_johansen",
      // r16: q374's 1-row stats broadcast back onto the ≤|days|
      // difference frame for the outside-LoA recount (the q242 form)
      "q374_bland_altman",
      // r16: q375's two 1-row broadcasts — the 3-row marginals cross
      // (3×3 chance mass) and the 1-row moment/chance join — both
      // census-side, nothing fact-sized
      "q375_weighted_kappa",
      // r16: q377's 1-row corpus-size broadcast onto the 20-row
      // top-term census (the q244 aggregate-pair shape)
      "q377_burstiness",
      // r16: q378's bounded pair machinery — the 50-row ranked census
      // self-joined on a rank inequality (the q211 broadcast-pair
      // discipline), plus two 1-row aggregate crosses
      "q378_tau_ap",
      // r17: q384's 1-row corpus-end bounds broadcast under the
      // per-user agg — the identical q224/q175 form
      "q384_weighted_logrank",
      // r17: q388's 1-row (n, total) broadcast onto the checkpointless
      // day census (the q336 form)
      "q388_page_hinkley",
      // r17: q395's 1-row exact-median broadcast onto the scored
      // orders; q396 rides the identical q395 machinery
      "q395_youden_j", "q396_info_gain",
      // r17: q397's 1-row (n, Σx²) totals broadcast onto the day
      // census (the q388/q336 form)
      "q397_cusum_squares",
      // q390's 1-row median broadcast onto the scored orders (the q242
      // form)
      "q390_lift_table")
    // Queries whose plan legitimately carries MORE than one allowlisted
    // nested loop. q262's tmax cut sits under its lazy checkpoint (only
    // the ≤365-row Walsh pair build surfaces), and q266's three periods
    // share ONE totals broadcast via explode (a per-period union would
    // have re-planned it ×3). q308's water-level search needs THREE
    // 1-row broadcasts onto the ≤|langs|-row census: the (total, budget)
    // row, the m* row, and the (m*, P_m) row — all census-side, nothing
    // fact-sized.
    // r14: q285 gained the ≤7-row × |types|-row grid-densify cross
    // join (advisor fix — zero-count cells so every judge ranks the
    // same object set) on top of its 1-row tie-census broadcast.
    // r17: q368 gained a second 1-row broadcast (the probe range now
    // derives from max(o_custkey) — r16 advisor fix — beside the
    // existing n_members broadcast)
    val bnljMax = Map("q308_water_fill" -> 3, "q316_conformal" -> 2,
      "q285_kendall_w" -> 2, "q369_rmst" -> 2, "q375_weighted_kappa" -> 2,
      "q378_tau_ap" -> 3, "q368_bloom_fpr" -> 2)
      .withDefaultValue(1)
    val offenders = allPlans.flatMap {
      case (name, plan) =>
        val p = plan.toString
        val cart = "CartesianProduct".r.findAllIn(p).size
        val bnlj = "BroadcastNestedLoop".r.findAllIn(p).size
        if (cart > 0) Some(s"$name: CartesianProduct x$cart")
        else if (bnlj > 0 && !allowedBnlj(name)) Some(s"$name: BNLJ x$bnlj")
        else if (bnlj > bnljMax(name))
          Some(s"$name: BNLJ x$bnlj (allowlist permits ${bnljMax(name)})")
        else None
    }
    assert(offenders.isEmpty,
      s"nested-loop plans outside the allowlist:\n${offenders.mkString("\n")}")
  }

  test("q205/q206: unpartitioned windows only ever see census-sized input") {
    // q205/q206 document "single global series" as the honest plan for
    // a scale-constant day census — this pin makes the claim
    // executable: count the rows that actually ENTER each
    // unpartitioned WindowExec. If a refactor ever feeds a fact-sized
    // frame (orders rows, pair blowup) into those windows, the counts
    // jump orders of magnitude and this fails loudly.
    import org.apache.spark.sql.execution.window.WindowExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dayCensus = Tables.orders(spark, sf0001)
        .select(to_date(col("o_orderdate"))).distinct().count()
      val factRows = Tables.orders(spark, sf0001).count()
      assert(factRows > dayCensus, "fixture sanity: facts exceed days")

      def windowInputCounts(q: String): Seq[Long] = {
        val plan = SparkEntry.queries(q)(spark, sf0001)
          .queryExecution.executedPlan
        val wins = plan.collect { case w: WindowExec => w }
        assert(wins.nonEmpty, s"$q expected at least one WindowExec")
        wins.map(_.child.execute().count())
      }

      // q205: the rolling-median window runs over exactly the day census
      windowInputCounts("q205_rolling_median").foreach { n =>
        assert(n == dayCensus,
          s"q205 window input $n != day census $dayCensus")
      }
      // q206: the rank window runs over the trailing-365-day pair set —
      // bounded by C(365, 2) = 66,430 regardless of SF
      windowInputCounts("q206_theil_sen").foreach { n =>
        assert(n <= 66430L,
          s"q206 window input $n exceeds the C(365,2) pair bound")
        assert(n > dayCensus, "q206 window should see the pair set")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("unpartitioned windows appear ONLY on the bounded-frame allowlist") {
    // r20 (verdict mandate #5): 84 source sites build unpartitioned
    // (global) windows; each moves its whole input to ONE task, so a
    // fact-scale frame there is a serial stage at 100 TB. This test is
    // the systematic pin the r19 verdict asked for: every query whose
    // executed plan carries an unpartitioned WindowExec must be on the
    // allowlist below, and each allowlist family documents why its
    // window inputs are cardinality-bounded. Audited r20 against the
    // code: the repo's PrefixSum/RangedNtile machinery exists precisely
    // so that the fact-scale cumulative work never lands here — what
    // remains is (a) the ≤|days| daily/series census family, (b) the
    // ≤|segments|/≤|groups|/grid statistical censuses, (c) value-domain
    // censuses bounded by the survival horizon or a quantile/tail cut,
    // (d) ≤k rank attaches above a TakeOrderedAndProject/limit, and
    // (e) ≤|groups|-row offset frames. The row-count spot checks in
    // the test below make the heaviest members' bounds executable.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def globalWindows(n: SparkPlan): Int = {
      val self = n match {
        case w: WindowExec if w.partitionSpec.isEmpty => 1
        case _ => 0
      }
      val kids = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case other => other.children
      }
      self + kids.map(globalWindows).sum
    }
    val allowed = Set(
      // (a) daily / series census: inputs are the ≤|days| (or hourly,
      // ≤|hours-in-horizon|) aggregate of the fact table — bounded by
      // the DATE DOMAIN, not the row count
      "q26_rolling_revenue", "q159_growth_accounting", "q191_theil",
      "q197_calibration", "q205_rolling_median", "q208_acf",
      "q212_dow_season", "q213_ccf", "q219_pacf", "q226_pettitt",
      "q230_durbin_watson", "q237_runs_test", "q241_friedman",
      "q243_page_trend", "q246_haar_energy", "q252_hurst_rs",
      "q253_kpss", "q264_turning_points", "q265_variance_ratio",
      "q275_ljung_box", "q290_spectral_entropy", "q292_sample_entropy",
      "q299_isotonic_fit", "q302_dickey_fuller", "q309_chow_break",
      "q321_granger", "q322_newey_west", "q323_seasonal_decomp",
      "q324_diebold_mariano", "q325_arch_lm", "q336_runs_test",
      "q337_variance_ratio", "q338_hurst_rs", "q341_turning_points",
      "q342_spiegelhalter_z", "q343_theils_u", "q347_qn_scale",
      "q364_bartels_rvn", "q379_records_test", "q388_page_hinkley",
      "q392_kupiec_pof", "q393_christoffersen", "q397_cusum_squares",
      // (b) dimension / group censuses: ≤|segments| (5), ≤|priorities|
      // (5), ≤|nations| (25), ≤|brands| (25), p-value lists (≤20),
      // criteria grids, decile/bin panels — all dimension-bounded
      "q165_apportion", "q167_lorenz", "q216_bh_fdr", "q220_topsis",
      "q225_odds_ratio",
      "q227_kruskal_wallis", "q228_anova_f", "q229_mantel_haenszel",
      "q232_brown_forsythe", "q234_cochran_armitage", "q239_neyman_alloc",
      "q259_mood_median", "q267_gk_lambda", "q268_mutual_info",
      "q276_brier_murphy", "q284_rbo", "q348_post_stratified",
      "q349_goodman_kruskal", "q354_risk_ratio", "q370_vif",
      "q375_weighted_kappa", "q378_tau_ap", "q381_hosmer_lemeshow",
      "q382_pinball", "q389_theil_u", "q390_lift_table",
      "q391_levene_mean", "q409_quade", "q410_cuzick_trend",
      // (c) value-domain censuses: survival hour censuses bounded by
      // the censor horizon (q175/q200/q242/q224/q369/q373/q384), the
      // Hill tail's top-k cut (q350), q146's decile panel, q186's
      // margin grid, q184's 200-resample frame
      "q146_psi", "q175_kaplan_meier", "q184_bootstrap", "q186_chi2",
      "q200_nelson_aalen", "q224_log_rank", "q242_km_greenwood",
      "q350_hill_tail", "q369_rmst", "q373_aalen_johansen",
      "q384_weighted_logrank",
      // (d) ≤k rank attaches above a TakeOrderedAndProject / limit /
      // vertex-dimension result (nations, top-N docs, paths)
      "q99_bm25", "q101_pagerank", "q105_triangles", "q113_session_paths",
      "q145_vocab_coverage", "q179_keyness", "q209_hits",
      "q236_t_closeness", "q271_term_dispersion",
      // (e) ≤|groups|-row offset frames
      "q206_theil_sen")
    val offenders = allPlans.flatMap {
      case (name, plan) =>
        val n = globalWindows(plan)
        if (n > 0 && !allowed(name)) Some(s"$name: $n global WindowExec")
        else None
    }
    assert(offenders.isEmpty,
      "unpartitioned windows outside the bounded-frame allowlist — move " +
        "the cumulative work onto PrefixSum/RangedNtile or justify the " +
        s"bound here:\n${offenders.mkString("\n")}")
  }

  test("the heaviest allowlisted global windows see census-sized input, not facts") {
    // executable spot checks for the allowlist above (the q205/q206
    // technique): count the rows that actually ENTER each unpartitioned
    // WindowExec of the flagged queries with the largest inputs. A
    // refactor that feeds a fact-sized frame into any of them jumps
    // these counts by orders of magnitude.
    import org.apache.spark.sql.execution.window.WindowExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dayCensus = Tables.orders(spark, sf0001)
        .select(to_date(col("o_orderdate"))).distinct().count()
      val factRows = Tables.orders(spark, sf0001).count()
      assert(factRows > dayCensus, "fixture sanity: facts exceed days")
      def globalWindowInputs(q: String): Seq[Long] = {
        val plan = SparkEntry.queries(q)(spark, sf0001)
          .queryExecution.executedPlan
        val wins = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        assert(wins.nonEmpty, s"$q expected an unpartitioned WindowExec")
        wins.map(_.child.execute().count())
      }
      // day-census family: every global window sits on ≤|days| rows
      // (q246 stacks ≤⌈log₂ days⌉ Haar levels — allow the stack)
      Seq("q226_pettitt", "q246_haar_energy").foreach { q =>
        globalWindowInputs(q).foreach { n =>
          assert(n <= dayCensus * 8,
            s"$q global-window input $n is not day-census-bounded ($dayCensus days)")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("global-window lint self-test: a planted fact-scale global window is caught") {
    // the detector must actually fire: a running total over raw orders
    // rows (the q98 trap) is exactly what the allowlist exists to keep
    // out of query plans
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def globalWindows(n: SparkPlan): Int = {
      val self = n match {
        case w: WindowExec if w.partitionSpec.isEmpty => 1
        case _ => 0
      }
      val kids = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case other => other.children
      }
      self + kids.map(globalWindows).sum
    }
    import org.apache.spark.sql.expressions.Window
    val planted = Tables.orders(spark, sf0001)
      .withColumn("cum", sum("o_totalprice").over(
        Window.orderBy("o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(globalWindows(planted.queryExecution.executedPlan) == 1,
      "detector failed to flag a planted global window")
    // and the partitioned form must NOT be flagged
    val keyed = Tables.orders(spark, sf0001)
      .withColumn("cum", sum("o_totalprice").over(
        Window.partitionBy("o_custkey").orderBy("o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(globalWindows(keyed.queryExecution.executedPlan) == 0,
      "detector flagged a keyed window")
  }

  test("q139/q153: the two-path salted join pays replication ONLY under skew") {
    // q139's join key has no hot key → the degenerate plain-join plan:
    // no Generate (explode) node may appear anywhere
    val cold = planOf("q139_salted_join")
    assert(!cold.contains("Generate"),
      s"skew-free q139 must not plan a replicating explode:\n$cold")
    // q153's key IS hot (every l_returnflag above 1/64 share) → the
    // hot path must be taken: a Generate(explode) for the right-side
    // replication and a Union stitching hot+cold branches
    val hot = planOf("q153_skew_attribution")
    assert(hot.contains("Generate") && hot.contains("Union"),
      s"q153 must route through the salted (explode + union) path:\n$hot")
  }

  test("driver-side .head() actions exist ONLY in documented iterative/ANN state") {
    // The r11-r13 sweep's durable form: a build-time .head() in a query
    // builder forces a full job at PLAN-CONSTRUCTION time (before the
    // caller even subscribes), serializes otherwise-parallel stages at
    // the driver, and hides work from the one plan the optimizer sees.
    // Every such fetch was converted to an in-plan 1-row broadcast
    // (q242 form) or a window over a bounded census. The three
    // survivors are genuine bounded DRIVER STATE, documented at the
    // site: PageRank's per-iteration 1-row convergence probe, Pca's
    // 1-row count feeding the driver-built covariance solve, and
    // AnnPq's dimension probe feeding codebook training. New driver
    // actions must justify themselves here.
    val allowed = Set("ops/PageRank.scala", "ops/Pca.scala",
      "ops/AnnPq.scala")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val headAction = """\.head\(\)|\.head\.get""".r
    // r14 (verdict mandate #1): q179's build-time `.collect()(0)` walked
    // straight through the `.head()`-only regex above. Builder files
    // declare plans; they must contain NO driver action of ANY
    // spelling. Library operators with documented bounded driver state
    // (Pca codebooks, AnnIvf/AnnPq centroids, SkewJoin hot-key census,
    // Mmr pool, RangedNtile group counts, PrefixSum per-partition
    // totals, BpeTrain merge loop, …) declare no oracle queries and
    // are out of this rule's scope — adding driver state to a builder
    // means first moving it into a library operator with a
    // justification comment.
    // r15: builder detection is CONTENT-based (any ops file declaring
    // a `def qNNN` plan builder), not name-based — the r14/r15 file
    // splits created builder files (SeriesEconometrics, SpatialStats,
    // LocationTests, …) the old `ops/*Queries.scala` name pattern
    // silently exempted from the strict rule.
    val anyAction =
      """\.collect\(\)|\.collectAsList\(|\.first\(\)|\.head\(\)|\.head\.get|\.take\(""".r
    val builderDecl = """def q\d+\w*\(s: SparkSession""".r
    val walk = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val rel = root.relativize(p).toString
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          // strip line comments so prose mentioning ".head()" doesn't count
          val code = src.linesIterator
            .map(l => l.indexOf("//") match {
              case -1 => l
              case i => l.substring(0, i)
            }).mkString("\n")
          val isBuilder = rel.startsWith("ops/") &&
            builderDecl.findFirstIn(src).isDefined
          val hit =
            if (isBuilder) anyAction.findFirstIn(code).isDefined
            else headAction.findFirstIn(code).isDefined && !allowed(rel)
          if (hit) Some(rel) else None
        }.toList
    } finally walk.close()
    assert(offenders.isEmpty,
      s"undocumented driver-side action in: ${offenders.mkString(", ")}")
  }

  // --- literal-partitioned window lint (r17, verdict mandate #3) ---
  // The q367/q371 r16 regression class: a Window.partitionBy whose
  // partition columns are ALL literal-bound panel labels
  // (lit("…").as("name") — the pair/grp pattern) has cardinality ≤ the
  // number of literals in the query, so over a fact-scale (or
  // fact-CARDINALITY census) input it is a disguised single-reducer
  // sort: at 100x one task sorts half the fact table, exactly what the
  // PrefixSum discipline exists to forbid. PLANS.md's exchange count
  // never surfaces this (the exchange is there — it just has 2 live
  // partitions), so the guard is a content lint in the libm-rule mold:
  // detector + justification allowlist + a planted-offender self-test.
  /** Per query-builder function: windows whose partitionBy columns are
    * all bound from string literals in the same function. Returns
    * (functionName, lineInChunk, partitionCols). */
  private def literalPartitionedWindows(src: String)
      : Seq[(String, Int, Seq[String])] = {
    // strip line comments, then merge continuation lines (leading '.')
    // into their statement so lit("x")\n.as("grp") still binds
    val lines = src.linesIterator
      .map(l => l.indexOf("//") match {
        case -1 => l
        case i => l.substring(0, i)
      }).toVector
    val merged = lines.foldLeft(Vector.empty[String]) { (acc, l) =>
      if (l.trim.startsWith(".") && acc.nonEmpty)
        acc.init :+ (acc.last + " " + l.trim)
      else acc :+ l
    }.mkString("\n")
    val fnSplit = """(?=\n  def )""".r
    val fnName = """\n  def (\w+)""".r
    val litBind = Seq(
      """lit\("[^"]*"\)[^\n]*?\.as\("(\w+)"\)""".r,
      """lit\("[^"]*"\)[^\n]*?withColumn\("(\w+)"""".r,
      """withColumn\("(\w+)",\s*lit\("""".r)
    val winPart = """Window\s*\.partitionBy\(([^)]*)\)""".r
    fnSplit.split(merged).toSeq.flatMap { chunk =>
      val name = fnName.findFirstMatchIn(chunk).map(_.group(1))
        .getOrElse("?")
      val bound = litBind.flatMap(_.findAllMatchIn(chunk).map(_.group(1)))
        .toSet
      winPart.findAllMatchIn(chunk).flatMap { m =>
        val cols = """"(\w+)"""".r.findAllMatchIn(m.group(1))
          .map(_.group(1)).toSeq
        if (cols.nonEmpty && cols.forall(bound)) {
          val line = chunk.substring(0, m.start).count(_ == '\n') + 1
          Some((name, line, cols))
        } else None
      }
    }
  }

  test("no window partitions solely on literal-bound panel labels (q367/q371 class)") {
    // (function, why the window input is provably NOT fact-scale)
    val allowlist = Map(
      "q379RecordsTest" -> ("series union of two copies of the " +
        "scale-constant DAY census — input is ≤ 2·|days| rows at any SF"))
    val root = java.nio.file.Paths.get("src/main/scala/graft/ops")
    val builderDecl = """def q\d+\w*\(s: SparkSession""".r
    val walk = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          if (builderDecl.findFirstIn(src).isEmpty) Nil
          else literalPartitionedWindows(src)
            .filterNot { case (fn, _, _) => allowlist.contains(fn) }
            .map { case (fn, ln, cols) =>
              s"${root.relativize(p)} $fn (+$ln): partitionBy(${cols.mkString(", ")})"
            }
        }.toList
    } finally walk.close()
    assert(offenders.isEmpty,
      "window partitioned solely on literal-bound labels — a ≤|literals|-" +
        "cardinality sort; rewrite on the census + PrefixSum backbone " +
        s"(q210/q254) or adjudicate in the allowlist:\n${offenders.mkString("\n")}")
  }

  test("literal-window lint self-test: the r16 q367 shape is caught") {
    // negative test (mandate #3): the exact r16 offender pattern —
    // literal pair/grp labels, then rank windows partitioned by them —
    // must be flagged; the rewritten census+PrefixSum q367 must not be.
    val planted = """
  def q999Offender(s: SparkSession, dir: String): DataFrame = {
    val base = pri.select(lit("priority").as("pair"),
        when(cond, lit("x"))
          .otherwise(lit("y")).as("grp"),
        col("v"))
    val wp = Window.partitionBy("pair").orderBy("v")
    val wg = Window.partitionBy("pair", "grp").orderBy("v")
    base.withColumn("r", rank().over(wp))
  }
"""
    val hits = literalPartitionedWindows(planted)
    assert(hits.map(_._3).toSet == Set(Seq("pair"), Seq("pair", "grp")),
      s"planted r16 q367 shape must be flagged, got: $hits")
    val rewritten = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/ops/LocationTests.scala")),
      "UTF-8")
    val lt = literalPartitionedWindows(rewritten)
    assert(lt.isEmpty,
      s"rewritten LocationTests must carry no literal-partitioned window: $lt")
  }

  // --- libm-accumulation lint (r16 mandate #1; taint pass upgraded to
  // statement-based in r17 per verdict mandate #5) ---
  // The round-15 fuzz catch (seed 122, q175/q242) was a STRUCTURAL
  // class — each libm call (ln/exp/trig/pow: anything not
  // IEEE-correctly-rounded) carries ~1-ulp cross-engine drift, and
  // SUMMING raw terms across rows walks the accumulated drift onto
  // rounding-grid boundaries. The repo convention quantizes every libm
  // term to an integer grid (Parity.quant, floor(x·1eN + 0.5)) BEFORE
  // the accumulation, so both engines accumulate identical exact
  // integers. The lint: every sum/avg whose argument (directly, or via
  // a column/val bound in a libm-carrying STATEMENT — r16's line-based
  // taint missed bindings whose libm call sat on a continuation line)
  // must either show a floor( or Parity.quant/fix quantizer inside the
  // accumulated argument or be adjudicated in the allowlist. sqrt and IEEE +−×÷
  // are correctly rounded and exempt; a single TERMINAL libm call on
  // an identical argument (q354's documented rule) is exempt because
  // it is not accumulated. Offline twin: scripts/libm_audit.py;
  // adjudication table in COVERAGE.md.
  private val libmRe = ("""(?i)\b(ln|log|log10|log2|log1p|exp|expm1|sin|""" +
    """cos|tan|asin|acos|atan|atan2|sinh|cosh|tanh|pow|power|cbrt)\s*\(""").r
  private val quantRe =
    """(?i)floor\s*\(|Parity\.(?:quant|fix)(?:Sql)?\s*\(""".r

  /** Joins physical lines into logical statements: a line continues
    * while its parens/brackets are unbalanced, the NEXT line starts
    * with an operator/dot, or the line ENDS with a binary operator /
    * comma (the codebase's continuation styles). stripMargin SQL
    * lines (leading '|') and triple-quote delimiters stay PER-LINE:
    * SQL parens are unbalanced across lines, so merging would glue
    * whole mirrors into one blob — a floor( anywhere would then mask
    * every taint in it, and unrelated AS-names would absorb taints
    * from distant expressions (both observed in development). A
    * `${...}` splice that a SQL line leaves open is glued back onto
    * that line with its continuation lines, so the SQL after the
    * closing brace (an `AS name`) is read as SQL of the line it sits
    * in, not as a Scala statement. Comment lines are dropped first.
    * Twin of scripts/libm_audit.py's logical_statements. */
  private def logicalStatements(text: String): Seq[String] = {
    val raw = text.linesIterator.filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }.map(l => l.indexOf("//") match {
      case -1 => l
      case i => l.substring(0, i)
    }).toVector
    def depthDelta(l: String): Int =
      l.count(c => c == '(' || c == '[') - l.count(c => c == ')' || c == ']')
    val contHead = """^\s*[.+\-*/&|:]""".r
    def isSqlLine(l: String): Boolean =
      l.trim.startsWith("|") || l.contains("\"\"\"")
    // brace depth of an open `${` splice after scanning `l` from depth d
    def spliceDepth(l: String, d0: Int): Int = {
      var d = d0; var i = 0
      while (i < l.length) {
        val c = l.charAt(i)
        if (d == 0) {
          if (c == '$' && i + 1 < l.length) {
            if (l.charAt(i + 1) == '{') d = 1
            i += 1 // `${` opens a splice, `$$` is a literal dollar
          }
        } else if (c == '{') d += 1
        else if (c == '}') d -= 1
        i += 1
      }
      d
    }
    val lines = {
      val glued = Vector.newBuilder[String]
      var open: Option[String] = None
      var d = 0
      raw.foreach { l =>
        open match {
          case Some(sql) => open = Some(sql + " " + l.trim); d = spliceDepth(l, d)
          case None if isSqlLine(l) => open = Some(l); d = spliceDepth(l, 0)
          case None => glued += l
        }
        if (d <= 0) { open.foreach(glued += _); open = None; d = 0 }
      }
      open.foreach(glued += _)
      glued.result()
    }
    val out = Vector.newBuilder[String]
    var buf = new StringBuilder
    var depth = 0
    def flush(): Unit = if (buf.nonEmpty) {
      out += buf.toString
      buf = new StringBuilder
      depth = 0
    }
    lines.zipWithIndex.foreach { case (l, idx) =>
      if (isSqlLine(l)) {
        flush()
        out += l
      } else {
        buf.append(l).append(' ')
        depth += depthDelta(l)
        val nxt = if (idx + 1 < lines.length) lines(idx + 1) else ""
        val nextCont = contHead.findFirstIn(nxt).isDefined &&
          !isSqlLine(nxt)
        val tailCont = Seq("+", "-", "*", "/", "&&", "||", "=", ",", "=>")
          .exists(l.replaceAll("\\s+$", "").endsWith(_))
        if (depth <= 0 && !nextCont && !tailCont) flush()
      }
    }
    flush()
    out.result()
  }

  /** The method-chain expression ending at `pos` (exclusive): walk
    * left matching brackets; stop at an unmatched '(' (enclosing
    * call), a top-level ',' (argument boundary) or '='/';'. */
  private def chainBefore(stmt: String, pos: Int): String = {
    var depth = 0; var j = pos - 1
    var stop = -1
    while (j >= 0 && stop < 0) {
      stmt.charAt(j) match {
        case ')' | ']' => depth += 1
        case '(' | '[' => depth -= 1; if (depth < 0) stop = j
        case ',' | '=' | ';' if depth == 0 => stop = j
        case _ =>
      }
      j -= 1
    }
    stmt.substring(stop + 1, pos)
  }

  /** The lint core, shared with the planted-offender self-test:
    * returns the offending (lineNumber, accumulationArg) pairs in
    * `text`, with `rel` used only for the allowlist match. */
  private def libmOffenders(rel: String, text: String): Seq[(Int, String)] = {
    val acc = """\b(?i)(sum|avg|mean)\s*\(""".r
    val bind = Seq(
      """\.as\("([A-Za-z_][A-Za-z0-9_]*)"\)""".r,
      """(?i)\bAS\s+([A-Za-z_][A-Za-z0-9_]*)""".r,
      """\bval\s+([A-Za-z_][A-Za-z0-9_]*)\s*=""".r,
      """withColumn\("([A-Za-z_][A-Za-z0-9_]*)"""".r)
    val sqlTypes = Set("DOUBLE", "BIGINT", "HUGEINT", "INT", "INTEGER",
      "LONG", "VARCHAR", "DECIMAL", "FLOAT", "SMALLINT", "DATE",
      "TIMESTAMP", "BOOLEAN", "REAL")
    // (file suffix, argument substring, why it is sound)
    val allowlist: Seq[(String, String, String)] = Seq(
      ("ops/QualityClassifier.scala", "loss",
        "iterative trainer, no DuckDB oracle; loss asserted with tolerance"),
      ("ops/SpatialStats.scala", "km",
        "band censuses sum exact 0/1 indicators — the libm distance " +
          "feeds a comparison, never the accumulator (q333 band-edge rule)"))
    def balancedArg(t: String, open: Int): String = {
      var depth = 0; var j = open
      while (j < t.length) {
        t.charAt(j) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) return t.substring(open, j + 1)
          case _ =>
        }
        j += 1
      }
      t.substring(open)
    }
    // names whose BOUND EXPRESSION carries an un-floored libm call —
    // r17 expression-based (verdict mandate #5): each binding is
    // checked against its OWN expression (the chain before `.as(`,
    // the withColumn arg, the text after `val x =`), so an exact
    // count bound in the same fluent chain as a libm projection is
    // not cross-tainted, and `val x = a *\n  log(b)` (libm on the
    // continuation line) no longer escapes. SQL `AS x` stays
    // line-scoped (SQL lines are per-line statements).
    def rawLibm(e: String): Boolean =
      libmRe.findFirstIn(e).isDefined && quantRe.findFirstIn(e).isEmpty
    val Seq(bindAs, bindSql, bindVal, bindWithCol) = bind
    val tainted = logicalStatements(text)
      .filter(st => libmRe.findFirstIn(st).isDefined)
      .flatMap { st =>
        val viaAs = bindAs.findAllMatchIn(st)
          .filter(m => rawLibm(chainBefore(st, m.start)))
          .map(_.group(1))
        val viaWc = bindWithCol.findAllMatchIn(st).filter { m =>
          val open = st.indexOf('(', m.start)
          open >= 0 && rawLibm(balancedArg(st, open))
        }.map(_.group(1))
        val viaVal = bindVal.findAllMatchIn(st)
          .filter(m => rawLibm(st.substring(m.end)))
          .map(_.group(1))
        val viaSql =
          if (quantRe.findFirstIn(st).isDefined) Iterator.empty
          else bindSql.findAllMatchIn(st).map(_.group(1))
            .filterNot(n => sqlTypes(n.toUpperCase))
        viaAs ++ viaWc ++ viaVal ++ viaSql
      }.toSet
    acc.findAllMatchIn(text).flatMap { m =>
      val arg = balancedArg(text, m.end - 1)
      val direct = libmRe.findFirstIn(arg).isDefined
      val viaTaint = tainted.exists(t =>
        ("""[("\s]""" + java.util.regex.Pattern.quote(t) +
          """[)"\s,*+\-/]""").r.findFirstIn(arg).isDefined)
      val raw = (direct || viaTaint) && quantRe.findFirstIn(arg).isEmpty
      val excused = allowlist.exists { case (f, sub, _) =>
        rel.endsWith(f.stripPrefix("ops/")) && arg.contains(sub) }
      if (raw && !excused) {
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        Some((line, arg.replaceAll("\\s+", " ").take(90)))
      } else None
    }.toSeq
  }

  test("raw libm terms never flow into a cross-row sum/avg (seed-122 class)") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val walk = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val rel = root.relativize(p).toString
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          libmOffenders(rel, text).map { case (ln, arg) => s"$rel:$ln $arg" }
        }.toList
    } finally walk.close()
    assert(offenders.isEmpty,
      "un-quantized libm term inside a cross-row accumulation " +
        "(quantize with Parity.quant before the sum, or adjudicate " +
        s"in the allowlist): ${offenders.mkString("; ")}")
  }

  test("libm lint self-test: a continuation-line binding is caught") {
    // negative test (r17 mandate #5): r16's line-based taint required
    // the libm call and the binding on the SAME physical line — this
    // planted violation splits them across a continuation and must
    // now be flagged
    val planted = """
  def q998Offender(s: SparkSession, dir: String): DataFrame = {
    val term = col("weight") *
      log(col("score") + 1.0)
    df.groupBy("g").agg(sum(term).as("t"))
  }
"""
    val hits = libmOffenders("ops/Planted.scala", planted)
    assert(hits.nonEmpty && hits.head._2.contains("term"),
      s"continuation-line libm binding must be flagged, got: $hits")
    // and the quantized forms of the same statement must pass
    Seq("floor(log(col(\"score\") + 1.0) * 1e9 + 0.5).cast(\"long\")",
      "Parity.quant(log(col(\"score\") + 1.0), 1e9)").foreach { q =>
      val quantized = planted.replace("log(col(\"score\") + 1.0)", q)
      assert(libmOffenders("ops/Planted.scala", quantized).isEmpty,
        s"the quantized continuation form $q must be clean")
    }
    // the DuckDB side: a raw ln under SUM is flagged, its quantSql twin
    // is clean
    val rawSql = """      |SELECT SUM(ln(CAST(x AS DOUBLE))) AS t"""
    assert(libmOffenders("ops/Planted.scala", rawSql).nonEmpty,
      "a raw libm term under a SQL SUM must be flagged")
    // upper-case SQL spellings count too, as in scripts/libm_audit.py
    val upperSql = """      |SELECT SUM(LN(CAST(x AS DOUBLE))) AS t"""
    assert(libmOffenders("ops/Planted.scala", upperSql).nonEmpty,
      "an upper-case raw libm term under a SQL SUM must be flagged")
    val twinSql = rawSql.replace("ln(CAST(x AS DOUBLE))",
      """${Parity.quantSql("ln(CAST(x AS DOUBLE))", 9)}""")
    assert(libmOffenders("ops/Planted.scala", twinSql).isEmpty,
      s"the quantSql twin must be clean: $twinSql")
    // a twin whose argument is split over Scala lines: the SQL after
    // the splice's closing brace binds `tq` on the SQL line, under the
    // twin, so the sum over tq is clean; the same layout without the
    // twin is flagged
    val splitTwin = """
  val qSql = sQ3SELECT SUM(tq) AS t FROM (
    |  SELECT ${Parity.quantSql("CAST(w AS DOUBLE) * " +
        "ln(CAST(x AS DOUBLE))", 9)} AS tq
    |  FROM t)Q3.stripMargin
""".replace("Q3", "\"" * 3)
    assert(libmOffenders("ops/Planted.scala", splitTwin).isEmpty,
      s"a split quantSql splice must be clean: $splitTwin")
    val splitRaw = splitTwin.replace("Parity.quantSql(", "(")
      .replace(", 9)}", ")}")
    assert(libmOffenders("ops/Planted.scala", splitRaw).nonEmpty,
      s"a split raw splice under a SQL SUM must be flagged: $splitRaw")
  }
}
