package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.cube.{CubeQuery, Engine}
import graft.functions.TextAnalysis
import graft.multimodal.Multimodal
import graft.operators.{AsOf, Corpus, Dedup, EventAnalytics, Fuzzy, Graph, Merge, Quality, RangeJoin, Relational, RuntimeFilter, Similarity, Skew}
import graft.sources.Sink
import graft.streaming.EventsStream

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry is one operator of the engine surface (SURVEY §2): the cube
  * query API reproducing the reference's `get_data`/`get_members`
  * (`oec.py:27-66`, `oec.py:12-25`), plus the relational and [EXT]
  * operators. Oracle SQL (DuckDB dialect) mirrors each query exactly —
  * including aliases, rounding, and ORDER BY — for the driver's
  * hash-compare.
  */
object SparkEntry {

  private def eng(s: SparkSession, dir: String) = new Engine(s, dir)

  /** Temp dir for the sink-roundtrip queries (q91/q93/q95/q153), keyed by
    * the Spark application id: two concurrent drivers (bench +
    * correctness harness) on one machine must not Overwrite-delete files
    * the other JVM is mid-read. Within one application the path is
    * stable, so repeated invocations (bench passes) overwrite
    * deterministically; the directory is deleted when the context stops
    * ([[Scratch.ownedPath]]).
    */
  private def tmpPath(s: SparkSession, prefix: String, dataset: String): String =
    graft.operators.Scratch.ownedPath(s,
      s"${System.getProperty("java.io.tmpdir")}/${prefix}_" +
        s"${s.sparkContext.applicationId}_" + new java.io.File(dataset).getName)

  /** Roundtrip check of an LSH layout (q106, q154), in one pass over the
    * files at `path`: table 0 is one full corpus copy (`n_vecs`,
    * `sum_ids`). Completeness must hold PER TABLE, not just in aggregate
    * — a duplicated row in one table plus a missing row in another keeps
    * the grand total intact, so the total alone proves nothing. The pair
    * (distinct (tbl, vec_id) == n_vecs x tables, total == distinct) does:
    * the first says every table covers every vector, the second that no
    * (tbl, vec_id) appears twice.
    */
  private def lshLayoutCheck(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .agg(count(when(col("tbl") === 0, lit(1))).as("n_vecs"),
        sum(when(col("tbl") === 0, col("vec_id"))).as("sum_ids"),
        count(lit(1)).as("__total"),
        countDistinct(col("tbl"), col("vec_id")).as("__distinct"))
      .select(col("n_vecs"), col("sum_ids"),
        (col("__distinct") === col("n_vecs") * Similarity.DefaultLshTables &&
          col("__total") === col("__distinct"))
          .as("all_tables_complete"))

  /** Roundtrip check of the `nlist`-cell IVF layout of dataset `d` (q107,
    * q108): the corpus read back (`n_vecs`, `sum_ids`) in 1..nlist cells.
    */
  private def ivfLayoutCheck(s: SparkSession, d: String, nlist: Int): DataFrame = {
    val idx = Similarity.ivfIndex(eng(s, d).table("embeddings"), d, nlist)
    s.read.parquet(idx.path)
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_ids"),
        countDistinct(col("cid")).as("__cells"))
      .select(col("n_vecs"), col("sum_ids"),
        (col("__cells") >= 1 && col("__cells") <= nlist).as("cells_ok"))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The Spark-native transposition of the reference docstring query
    * (`oec.py:30-37`): drilldowns [Year, Nation], measure [Trade Value],
    * cut {Year: 1995}.
    */
  def entry(spark: SparkSession): DataFrame =
    eng(spark, "/root/testdata/sf0.001").getData(CubeQuery(
      cube = "trade",
      drilldowns = Seq("Year", "Nation"),
      measures = Seq("Trade Value"),
      cuts = Map("Year" -> Seq("1995"))))

  /** One entry per implemented operator from SURVEY.md §2. Built once:
    * harnesses look names up in loops. Lazy, like [[oracleSql]], so
    * object initialization order does not matter.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- cube get_data surface (S1, O1-O3, J1-J2, A1, A3, F1) ---
    "q01_year_nation" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "trade", Seq("Year", "Nation"), Seq("Trade Value"),
      Map("Year" -> Seq("1995"))))),
    // multi-query shared scan: three dashboard drilldowns ({Year,Nation},
    // {Nation}, grand total) in ONE fact pass via GROUPING SETS, rows
    // tagged by grouping_id — N tiles for one 100 TB scan
    "q146_shared_scan" -> ((s, d) => eng(s, d).getDataMulti(
      CubeQuery("trade", Nil, Seq("Trade Value", "Line Count")),
      Seq(Seq("Year", "Nation"), Seq("Nation"), Seq()))),
    "q04_multi_cut" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "trade", Seq("Year", "Region"), Seq("Trade Value", "Quantity"),
      Map("Year" -> Seq("1995", "1996"), "Region" -> Seq("ASIA", "EUROPE"))))),
    "q05_pricing_summary" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "trade", Seq("Return Flag", "Line Status"),
      Seq("Quantity", "Trade Value", "Discounted Value", "Charged Value",
        "Avg Quantity", "Line Count")))),
    "q06_global_agg" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "trade", Seq.empty, Seq("Trade Value", "Line Count", "Order Count")))),
    "q07_region_year" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "trade", Seq("Region", "Year"), Seq("Trade Value")))),
    "q08_brand_stats" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "trade", Seq("Brand"), Seq("Quantity", "Max Price", "Min Price")))),
    "q09_supplier_nation" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "trade", Seq("Supplier Nation"), Seq("Trade Value", "Line Count")))),
    "q10_segment_priority" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "trade", Seq("Mkt Segment", "Order Priority"),
      Seq("Order Count", "Trade Value")))),
    // --- members surface (S2, A2, T1) ---
    "q02_members_nation" -> ((s, d) => eng(s, d).getMembers("trade", "Nation ID")),
    "q03_members_year" -> ((s, d) => eng(s, d).getMembers("trade", "Year")),
    // --- relational ops (§2.5-2.7) ---
    "q11_top_customers" -> Relational.topCustomers _,
    "q12_nation_rank" -> Relational.nationRankInRegion _,
    "q13_semi_join" -> Relational.ordersWithHeavyItems _,
    "q14_anti_join" -> Relational.customersWithoutOrders _,
    "q15_union_nations" -> Relational.activeNations _,
    "q16_rollup" -> Relational.yearStatusRollup _,
    // --- events cube (calendar + JSON levels, §2.8) ---
    "q17_events_hourly" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "events", Seq("Event Hour", "Event Type"),
      Seq("Event Count", "Total Value")))),
    "q18_events_propk" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "events", Seq("Prop K"), Seq("Event Count", "Total Value"),
      Map("Event Type" -> Seq("purchase", "signup"))))),
    "q19_events_daily" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "events", Seq("Event Day"), Seq("Event Count", "User Count", "Avg Value")))),
    // time-window slice of the events cube: the range cut on the derived
    // calendar level carries a companion raw-ts prune predicate
    // (Level.rangePrune) that reaches the parquet scan's PushedFilters —
    // THE access pattern on a 100 TB event store (plan-asserted)
    "q138_events_window" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "events", Seq("Event Day", "Event Type"), Seq("Event Count", "Total Value"),
      rangeCuts = Map("Event Day" -> ("2024-01-05 00:00:00", "2024-01-09 00:00:00"))))),
    "q20_docs_lang" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "documents", Seq("Lang"), Seq("Doc Count", "Total Chars", "Avg Chars")))),
    // --- [EXT] dedup family (SURVEY §2.11) ---
    "q21_dedup_exact" -> ((s, d) => Dedup.exact(eng(s, d).table("documents"))),
    "q26_minhash_pairs" -> ((s, d) =>
      Dedup.minhashPairsShared(eng(s, d).table("documents"), d)),
    "q27_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(eng(s, d).table("documents"))),
    // EXACT n-gram Jaccard pairs via the inverted postings index — the
    // certainty regime of the q26 approximation; df cap 256 bounds the
    // postings hot key (and the oracle replicates the cap)
    "q136_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(eng(s, d).table("documents"), maxDf = 256,
        datasetKey = d)),
    // overlap-coefficient (containment) pairs over the SAME postings
    // index — catches quote-inclusion dups Jaccard structurally cannot
    // (short doc wholly inside a long one); threshold 0.8 aligns with
    // q136 so inclusions (high overlap, low jaccard) separate cleanly
    "q137_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(eng(s, d).table("documents"),
        threshold = 0.8, maxDf = 256, datasetKey = d)),
    // per-doc near-dup degree over the same postings index: the
    // boilerplate-density signal (many partners = template/chrome, one
    // partner = ordinary dup) that neighborhood-drop curation keys on
    "q139_dup_degree" -> ((s, d) =>
      Dedup.dupDegree(eng(s, d).table("documents"), maxDf = 256,
        datasetKey = d)),
    // --- [EXT] text analysis ---
    "q22_token_stats" -> ((s, d) => eng(s, d).table("documents")
      .groupBy(col("lang"))
      .agg(sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"),
        // mean of 4dp ratios from exact integer units: a float avg
        // depends on the partial-sum order, which follows the partitioning
        (round(sum(round(TextAnalysis.typeTokenRatio(col("text")) * 1e4)
          .cast("long")).cast("double") / count(lit(1))) / 1e4).as("avg_ttr"),
        count(lit(1)).as("doc_count"))
      .orderBy(col("lang"))),
    "q23_doc_quality" -> ((s, d) => eng(s, d).table("documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextAnalysis.typeTokenRatio(col("text")).as("ttr"),
        TextAnalysis.alphaRatio(col("text")).as("alpha_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))),
    "q24_langid" -> ((s, d) => eng(s, d).table("documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("predicted"))
      .orderBy(col("doc_id"))),
    "q25_fingerprint" -> ((s, d) => eng(s, d).table("documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        array_min(transform(TextAnalysis.shingles(col("text"), 3),
          sh => TextAnalysis.portableHash60(sh))).as("min_shingle_hash"))
      .orderBy(col("doc_id"))),
    // --- [EXT] similarity search over embeddings ---
    "q28_embed_knn" -> ((s, d) =>
      Similarity.bruteForceTopK(eng(s, d).table("embeddings"), queryId = 0L, k = 10)),
    "q29_embed_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(eng(s, d).table("embeddings"), queryId = 0L, k = 10,
        datasetKey = d)),
    // incremental LSH append: 4/5 of the corpus builds the layout, the
    // fifth appends (banding keys are pure functions — no model drift,
    // append ≡ rebuild); probe = q29's relation over the whole corpus
    "q151_lsh_append" -> ((s, d) => {
      val emb = eng(s, d).table("embeddings")
      Similarity.lshIncrementalTopK(
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(5)) === 0),
        queryId = 0L, k = 10, datasetKey = d)
    }),
    "q30_embed_neardup" -> ((s, d) =>
      Similarity.lshNearDupPairsShared(eng(s, d).table("embeddings"), d)),
    "q31_label_centroids" -> ((s, d) =>
      Similarity.labelCentroids(eng(s, d).table("embeddings"))),
    // --- [EXT] structured streaming (SURVEY §2.9) ---
    "q32_stream_hourly" -> EventsStream.hourlyRollup _,
    "q33_stream_user_state" -> EventsStream.userSummaries _,
    // --- [EXT] multimodal columns ---
    "q34_multimodal_stats" -> ((s, d) =>
      Multimodal.assetStats(eng(s, d).table("documents"))),
    "q35_multimodal_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(eng(s, d).table("documents"))),
    // --- range cuts, grouping sets, sketches ---
    "q36_range_cut" -> ((s, d) => eng(s, d).getData(CubeQuery(
      "trade", Seq("Region"), Seq("Trade Value", "Line Count"),
      rangeCuts = Map("Year" -> ("1996", "1998"))))),
    "q37_cube_grouping" -> Relational.segmentPriorityCube _,
    // The HLL++ sketch stays on the data path (approx_ok derives from its
    // estimate), but the registered columns are the exact count plus a
    // tolerance assertion — deterministically TRUE, so an ANSI oracle can
    // hash-check the whole row. Tolerance is 3x the sketch's rsd (5% is a
    // STANDARD DEVIATION, not a bound) with an absolute floor of 2: at
    // tiny per-group cardinalities a +/-1 estimate is in-spec but breaks
    // any pure relative gate (observed live at the smallest fixture,
    // n=11 estimated 12). The raw estimate itself remains
    // tolerance-gated in SkewSinkSpec.
    "q38_approx_distinct" -> ((s, d) =>
      Relational.approxCustomerCounts(s, d)
        .select(col("nation"), col("exact_customers"),
          (abs(col("approx_customers") - col("exact_customers")).cast("double")
            <= greatest(lit(2.0),
              col("exact_customers").cast("double") * 0.15)).as("approx_ok"))),
    "q39_user_sessions" -> EventsStream.userSessions _,
    // session-level funnel stats: duration, event count, conversion
    // flag, value mass — q39's sessions as the analytics artifact
    "q155_session_conversion" -> EventsStream.sessionConversion _,
    // 2-D skyline (max spend, min orders) via the two-stage
    // partition/merge sorted scan — the dominance self-join never exists
    "q156_pareto_front" -> ((s, d) => Relational.paretoCustomers(s, d)),
    // gaps-and-islands interval coalescing: 7-day order windows merged
    // into maximal per-customer activity islands, one shuffle + two
    // window passes over one ordering
    "q157_order_islands" -> Relational.orderIslands _,
    // per-nation argmax as a map-side-combinable max_by(struct) — the
    // exchange carries one struct per nation, not the customer rollup
    "q158_top_customer" -> Relational.nationTopCustomer _,
    // per-source language mixture: dominant share + Shannon entropy via
    // the sum-friendly identity H = ln(N) - sum(n ln n)/N
    "q159_source_lang_mix" -> ((s, d) =>
      Corpus.sourceLangMix(eng(s, d).table("documents"))),
    // trailing 7-day actives: windowed COUNT(DISTINCT) rewritten as a
    // 7x contribution expansion over collapsed user-days
    "q160_active_7d" -> EventAnalytics.rollingActiveUsers _,
    // last-touch attribution: ignore-nulls last() over a (ts, type)
    // struct — one window pass instead of a per-purchase lateral join
    "q161_attribution" -> ((s, d) =>
      EventAnalytics.lastTouchAttribution(s, d)),
    // robust outliers: median/MAD with broadcast-back passes; swap
    // percentile for the KLL sketch at 100 TB (same shape)
    "q162_mad_outliers" -> ((s, d) => Relational.madOutliers(s, d)),
    // streaming twin of q160: stream holds (window, user) dedup state,
    // batch side counts — same oracle
    "q163_stream_wau" -> EventsStream.slidingActiveUsers _,
    // trailing-28d mean/std anomaly flags over the PRE-ROUNDED daily
    // series (q74's convention) — the window never sees raw events
    "q164_anomaly_days" -> ((s, d) => EventAnalytics.dailyAnomalies(s, d)),
    // time-to-convert p50/p90/mean over q72's strict funnel stage times;
    // integer micros div for latency
    "q165_funnel_timing" -> EventAnalytics.funnelTiming _,
    // smoothed-IDF drift between the doc_id-parity snapshot halves —
    // full-outer df join + TakeOrderedAndProject top-k movers
    "q166_idf_drift" -> ((s, d) =>
      Corpus.idfDrift(eng(s, d).table("documents"))),
    // GDPR purge dry-run: broadcast key-set semi cascade, one scan and
    // one flag-counting agg per table
    "q167_purge_audit" -> ((s, d) => Relational.purgeAudit(s, d)),
    // PSI drift between user-parity cohorts: fixed floor() bins,
    // Laplace-smoothed shares, per-bin (p-q)ln(p/q)
    "q168_psi_drift" -> ((s, d) => Quality.psiReport(s, d)),
    // pre-join fanout forecast: per-side key histograms full-outer
    // joined, top-k keys by n_events x n_orders — skew triage input
    "q169_join_fanout" -> ((s, d) => Relational.joinFanoutReport(s, d)),
    // CDC apply: log collapsed to latest op per key, tombstones delete,
    // upserts win wholesale — q81's merge with delete semantics
    "q170_cdc_apply" -> ((s, d) => Merge.cdcApply(s, d)),
    // token-mass Gini per source via the integer sorted-rank identity —
    // both engines reach the same doubles through the same divisions
    "q171_token_gini" -> ((s, d) =>
      Corpus.tokenGini(eng(s, d).table("documents"))),
    // template boilerplate: first-k-token prefix clusters (prefix built
    // in the scan projection, no explode)
    "q172_template_prefixes" -> ((s, d) =>
      Corpus.templatePrefixes(eng(s, d).table("documents"))),
    // two-stage multimodal dedup: prefix-digest candidates + distinct
    // full digests, all hashed in the scan — the payload never shuffles
    "q173_asset_dedup" -> ((s, d) =>
      Multimodal.assetDedup(eng(s, d).table("documents"))),
    // q72's strict funnel segmented by acquisition channel (ordered
    // first() + conditional mins over ONE user exchange)
    "q174_funnel_channel" -> EventAnalytics.funnelByChannel _,
    // streaming CDC twin of q170: stream keeps latest-op-per-key via
    // max_by, snapshot merge runs through the SAME applyLatestOps
    "q175_stream_cdc" -> ((s, d) => EventsStream.cdcStream(s, d)),
    // top opening event paths per 30-min session — ordered
    // collect+slice in one session_window pass
    "q176_session_paths" -> ((s, d) => EventsStream.topSessionPaths(s, d)),
    // forward as-of: next purchase at/after each click + minutes-to —
    // same single-shuffle tag-union plan as q51, mirrored
    "q177_asof_forward" -> AsOf.clickNextPurchase _,
    // pairwise source vocabulary Jaccard — the cheap triage before
    // cross-corpus document dedup; fanout bounded by sources², never docs
    "q178_vocab_overlap" -> ((s, d) =>
      Corpus.sourceVocabOverlap(eng(s, d).table("documents"))),
    // winsorization report: P5/P95 clamp with monitorable clip rates —
    // two-pass broadcast-back, the fact never shuffles
    "q179_winsorize" -> ((s, d) => Quality.winsorizeReport(s, d)),
    // RFM quartile segmentation under deterministic ntile orderings
    "q180_rfm" -> ((s, d) => Relational.rfmSegments(s, d)),
    // inter-arrival order gaps: lag + integer day math + exact percentiles
    "q181_order_gaps" -> ((s, d) => Relational.orderGapStats(s, d)),
    // binary-segmentation change point over running sums — O(days), no
    // per-candidate rescans
    "q182_change_point" -> ((s, d) => EventAnalytics.changePoint(s, d)),
    // cohort lifetime value: retention's value twin; cohort size ships
    // alongside instead of dividing in (rounding-trap avoidance)
    "q183_cohort_ltv" -> EventAnalytics.cohortLtv _,
    // market-basket pairs keyed by ORDER — fanout bounded by basket
    // size, never catalog²; integer-derived lift
    "q184_market_basket" -> ((s, d) => Relational.marketBasket(s, d)),
    // supplier concentration (HHI) per part from integer counts, rolled
    // to brand — the supply-chain-risk report
    "q185_supplier_hhi" -> Relational.supplierConcentration _,
    // fulfillment latency percentiles per priority; integer day math
    "q186_ship_delay" -> Relational.shipDelayByPriority _,
    // day-of-week chi-square vs uniform; portable (epoch+4) mod 7
    // weekday — engine dow() numbering conventions differ
    "q187_dow_profile" -> Relational.dowProfile _,
    // weekly growth ledger: new/retained/resurrected + derived churn —
    // one distinct user-week pass, churn from a lag over the rollup
    "q188_growth_accounting" -> EventAnalytics.growthAccounting _,
    // dominant-behavior drift matrix: q158's argmax-as-aggregate twice,
    // cross-tabulated across the time halves
    "q189_behavior_switchers" -> ((s, d) =>
      EventAnalytics.behaviorSwitchers(s, d)),
    // char-level entropy per language — the languageness quality signal
    "q190_char_entropy" -> ((s, d) =>
      Corpus.charEntropy(eng(s, d).table("documents"))),
    // dedup threshold-tuning curve from ONE postings pass — integer
    // counts, bit-stable across engines
    "q191_jaccard_sweep" -> ((s, d) =>
      Dedup.jaccardThresholdSweep(eng(s, d).table("documents"),
        maxDf = 256, datasetKey = d)),
    // near-dup cluster size histogram over the shared pair frame
    "q192_cluster_sizes" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      Dedup.clusterSizes(Dedup.minhashPairsShared(docs, d))
    }),
    // (weekday, hour) activity matrix; portable integer weekday
    "q193_activity_heatmap" -> Relational.activityHeatmap _,
    // native UNPIVOT melt of the four lineitem measures + per-measure
    // profile — zero-shuffle fan-out, one 12-group aggregate
    "q194_unpivot_measures" -> Relational.unpivotMeasures _,
    // quarter-over-quarter regional revenue deltas; portable integer
    // quarter index, subtraction of exact 2dp sums (no division)
    "q195_qoq_growth" -> Relational.qoqGrowth _,
    // Pearson corr from the five exact power sums — never built-in corr()
    "q196_qty_discount_corr" -> Relational.qtyDiscountCorr _,
    // ABC/Pareto classes with the boundary test in exact integer cents
    "q197_abc_classes" -> Relational.abcClasses _,
    // Flesch readability from integer word/sentence/syllable totals
    "q198_readability" -> ((s, d) =>
      Corpus.readability(eng(s, d).table("documents"))),
    // mutual-kNN rate + label homophily over a bounded evaluation slice —
    // the hubness / embedding-quality audit
    "q199_mutual_knn" -> ((s, d) =>
      Similarity.mutualKnn(eng(s, d).table("embeddings"))),
    // top-k parts per brand with ties kept (dense_rank over the rollup)
    "q200_brand_top_parts" -> ((s, d) =>
      Relational.topPartsPerBrand(s, d)),
    // exact-vs-normalized duplicate gap per source — the dedup-tier triage
    "q201_norm_dup_rate" -> ((s, d) =>
      Corpus.normDupRate(eng(s, d).table("documents"))),
    // open-order backlog by month via bounded interval explode
    "q202_order_backlog" -> Relational.openOrderBacklog _,
    // monthly revenue vs trailing-12m mean (rows-frame window)
    "q203_revenue_trend" -> Relational.revenueTrend _,
    // intra/inter label cosine separation — silhouette-style class audit
    "q204_label_separation" -> ((s, d) =>
      Similarity.labelSeparation(eng(s, d).table("embeddings"))),
    // cross-aggregate HAVING: share > 1.05x mean share, in exact scaled cents
    "q205_important_suppliers" -> Relational.importantSuppliers _,
    // correlated per-part avg as exact cross-multiplication (Q17 shape)
    "q206_small_qty_revenue" -> Relational.smallQtyRevenue _,
    // quantity-weighted median price per brand via cumulative weights
    "q207_weighted_median" -> Relational.weightedMedianPrice _,
    // Benford first-digit audit; digit from the integer-cents string
    "q208_benford" -> Relational.benfordOrders _,
    // lag-1/lag-7 autocorrelation from BIGINT power sums over exact dollars
    "q209_autocorr" -> Relational.dailyAutocorr _,
    // segment x priority mutual information from one contingency rollup
    "q210_mutual_info" -> Relational.segmentPriorityMi _,
    // Kaplan-Meier product-limit survival of customer reorder gaps
    "q211_reorder_survival" -> Relational.reorderSurvival _,
    // 7-day EWMA of daily revenue as an explode + equi-join band
    "q212_revenue_ewma" -> Relational.dailyEwma _,
    // chi-square cell residuals for segment x priority independence
    "q213_chisq_cells" -> Relational.segmentPriorityChisq _,
    // overlapping order-interval pairs per customer, as a histogram
    "q214_order_overlap" -> Relational.orderOverlapHistogram _,
    // log-log OLS price elasticity per brand from one-pass power sums
    "q215_price_elasticity" -> Relational.priceElasticity _,
    // one-way ANOVA of doc length by language (exact BIGINT power sums)
    "q216_length_anova" -> ((s, d) =>
      Corpus.docLengthAnova(eng(s, d).table("documents"))),
    // per-source token impact of the minhash keep-list (shared pair frame)
    "q217_dedup_savings" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      Corpus.dedupTokenSavings(docs,
        Dedup.keepList(docs, Dedup.minhashPairsShared(docs, d)))
    }),
    // sqrt-proportional token budget allocation across sources
    "q218_sqrt_allocation" -> ((s, d) =>
      Corpus.sqrtBudgetAllocation(eng(s, d).table("documents"))),
    // first-appearance 3-gram novelty rate per source
    "q219_ngram_novelty" -> ((s, d) =>
      Corpus.ngramNovelty(eng(s, d).table("documents"))),
    // split-half centroid cosine per label — embedding stability audit
    "q220_centroid_drift" -> ((s, d) =>
      Similarity.centroidDrift(eng(s, d).table("embeddings"))),
    // blocked Jaro-Winkler profile via the native expression (threshold-free)
    // hot-block capped (128 smallest keys per block via MinK): the block
    // vocabulary is bounded, so uncapped all-pairs grows quadratically
    // with the catalog; at the sf0.01 oracle scale no block hits the cap
    "q221_name_similarity" -> ((s, d) =>
      Fuzzy.nameSimilarityProfile(s, d)),
    // TPC-H Q21 shape: unique last-shipping supplier in multi-supplier orders
    "q222_blocking_suppliers" -> Relational.blockingSuppliers _,
    // per-dimension label eta2 over embeddings — feature-selection audit
    "q223_dim_discrimination" -> ((s, d) =>
      Similarity.dimDiscrimination(eng(s, d).table("embeddings"))),
    // TPC-H Q22 shape: last-year-lapsed customers above segment mean balance
    "q224_idle_rich" -> Relational.idleRichCustomers _,
    // burst-collapse debounce pressure per event type (5-minute gap)
    "q225_event_debounce" -> ((s, d) =>
      EventAnalytics.debounceReport(s, d)),
    // mod-32 partition balance preflight with chi-square contributions
    "q226_partition_balance" -> ((s, d) =>
      Relational.partitionBalance(s, d)),
    // qty-weighted realized price vs retail value per brand (exact cents)
    "q227_realized_discount" -> Relational.realizedDiscount _,
    // median-of-3 robust smoothing of daily revenue with exact spike flags
    "q228_median3_smoothing" -> Relational.median3Smoothing _,
    // priority share per quarter with exact 6dp deltas vs previous quarter
    "q229_priority_mix" -> Relational.priorityMixShift _,
    // per-supplier ship-delay mean/std from exact BIGINT power sums
    "q230_supplier_consistency" -> Relational.supplierConsistency _,
    // intra-order price spread banded by integer div into $5000 buckets
    "q231_price_spread" -> Relational.orderPriceSpread _,
    // 30-day activity packed into one BIGINT mask; popcount histogram
    "q232_activity_bitmask" -> ((s, d) =>
      EventAnalytics.activityBitmask(s, d)),
    // endpoint-degree Pearson over the near-dup graph (hubs-to-hubs?)
    "q233_assortativity" -> ((s, d) =>
      Graph.degreeAssortativity(
        Dedup.minhashPairsShared(eng(s, d).table("documents"), d))),
    // TPC-H Q7 shape: supplier-nation x customer-nation revenue flows
    "q234_trade_matrix" -> Relational.tradeMatrix _,
    // exact-integer OLS slope signs per customer, censused by segment
    "q235_value_trajectory" -> Relational.valueTrajectoryCensus _,
    // nearest as-of join (closer of backward/forward, one shuffle)
    "q236_asof_nearest" -> AsOf.clickNearestPurchase _,
    // leave-one-out 1-NN label confusion matrix on the eval slice
    "q237_knn_confusion" -> ((s, d) =>
      Similarity.knnConfusion(eng(s, d).table("embeddings"))),
    // held-out bigram LM eval: train-split model scores the val split
    "q238_heldout_perplexity" -> ((s, d) =>
      Corpus.heldoutPerplexity(eng(s, d).table("documents"),
        datasetKey = d)),
    // hash-sampling calibration at 10/25/50% against the full totals
    "q239_sampling_calibration" -> Relational.samplingCalibration _,
    // Heaps-law vocabulary growth over corpus deciles
    "q240_heaps_curve" -> ((s, d) =>
      Corpus.heapsCurve(eng(s, d).table("documents"))),
    // per-label precision/recall/F1 rollup of the 1-NN confusion
    "q241_knn_prf" -> ((s, d) =>
      Similarity.knnPrf(eng(s, d).table("embeddings"))),
    // stateful streaming debounce; one fixed state record per (user, type)
    "q242_stream_debounce" -> ((s, d) =>
      EventsStream.streamingDebounce(s, d)),
    // Lorenz curve: revenue share by customer decile, exact integer cuts
    "q243_revenue_lorenz" -> Relational.revenueConcentration _,
    // argmax hour-of-day per event type with integer tiebreak
    "q244_peak_hours" -> Relational.peakHours _,
    // shipped-within-30/60/90-days attainment by priority
    "q245_sla_attainment" -> Relational.slaAttainment _,
    // max events in any event-anchored 1-hour window, per-user histogram
    "q246_burstiness" -> Relational.burstiness _,
    // modality composition per source (count + bytes + share)
    "q247_format_mix" -> ((s, d) =>
      graft.multimodal.Multimodal.formatMix(eng(s, d).table("documents"))),
    // size-ranked round-robin shard plan with balance ratios
    "q248_shard_plan" -> ((s, d) =>
      graft.multimodal.Multimodal.shardPlan(eng(s, d).table("documents"))),
    // thin-asset purge estimate: reclaimable bytes per source
    "q249_purge_estimate" -> ((s, d) =>
      graft.multimodal.Multimodal.purgeEstimate(eng(s, d).table("documents"))),
    // the whole dedup cascade per source: raw -> exact -> norm -> near-dup
    "q250_dedup_funnel" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      Corpus.dedupFunnel(docs,
        Dedup.keepList(docs, Dedup.minhashPairsShared(docs, d)))
    }),
    // label entropy + effective class count — the train-set balance read
    "q251_label_balance" -> ((s, d) =>
      Similarity.labelBalance(eng(s, d).table("embeddings"))),
    // exact global percentiles by distributed rank (no sketch, no
    // single-partition window)
    "q252_global_percentiles" -> Relational.globalPricePercentiles _,
    // month-of-year seasonal index on exact monthly cents
    "q253_monthly_seasonality" -> Relational.monthlySeasonality _,
    // corpus-wide duplicate rate by 500-char length band
    "q254_dup_by_length" -> ((s, d) =>
      Corpus.dupRateByLength(eng(s, d).table("documents"))),
    // first-order vs repeat revenue mix by month
    "q255_acquisition_mix" -> Relational.acquisitionMix _,
    // per-brand return rate with deviation from the global rate
    "q256_return_rates" -> Relational.returnRates _,
    // assortment profile over size band x type head (unused catalog attrs)
    "q257_size_type_matrix" -> Relational.sizeTypeMatrix _,
    // VARIANT prop k vs value correlation per event type (power sums)
    "q258_prop_value_corr" -> Relational.propValueCorr _,
    // audience saturation: cumulative distinct users by first-seen day
    "q259_cumulative_reach" -> ((s, d) =>
      EventAnalytics.cumulativeReach(s, d)),
    // exponentially decayed value mass per type (30-day half-life)
    "q260_decayed_engagement" -> ((s, d) =>
      EventAnalytics.decayedEngagement(s, d)),
    // Jaccard overlap of user sets between event-type pairs
    "q261_audience_overlap" -> ((s, d) =>
      EventAnalytics.audienceOverlap(s, d)),
    // brand revenue shares: top-decile orders vs overall (over-indexing)
    "q262_top_decile_mix" -> Relational.topDecileBrandMix _,
    // percent-of-parent drill-path shares over the region/nation rollup
    "q263_pct_of_parent" -> Relational.percentOfParent _,
    // max intra-quarter drawdown of the daily revenue series
    "q264_revenue_drawdown" -> Relational.revenueDrawdown _,
    // brand-pair monthly revenue Pearson matrix (BIGINT power sums)
    "q265_brand_corr" -> Relational.brandCorrMatrix _,
    // PII/blocklist scrub pressure per source (same mask as q63)
    "q266_scrub_report" -> ((s, d) => {
      val bl = Seq("customer", "vector")
      eng(s, d).table("documents")
        .select(col("source"),
          TextAnalysis.scrubCount(col("text"), bl).as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("n")).cast("long").as("total_spans"))
        .withColumn("flagged_rate",
          round(col("n_flagged").cast("double") /
            col("n_docs").cast("double"), 6))
        .orderBy(col("source"))
    }),
    // lineitems-per-order fan distribution + skew factor (salt preflight)
    "q268_join_skew" -> Relational.joinSkewDiagnosis _,
    // per-type vs rest KS statistic on the quantized value ECDF
    "q270_ks_drift" -> EventAnalytics.ksDrift _,
    // purchase×click daily cross-correlation at lags −3..+3
    "q271_event_ccf" -> ((s, d) => EventAnalytics.eventCcf(s, d)),
    // 30-min-gap session entry/exit contingency with session shares
    "q272_entry_exit" -> EventAnalytics.sessionEntryExit _,
    // header/detail invoice reconciliation in exact per-line cents
    "q273_price_reconcile" -> Quality.priceReconciliation _,
    // Spearman (average-rank) size~price correlation per part type
    "q274_spearman" -> Relational.spearmanSizePrice _,
    // Theil-T revenue inequality decomposed within/between nation
    "q275_theil" -> Relational.theilByNation _,
    // Hill tail-index of the user activity distribution
    "q276_activity_tail" -> ((s, d) => EventAnalytics.activityTailIndex(s, d)),
    // first- vs last-touch attribution per channel (7-day RANGE frame)
    "q277_attribution_models" -> ((s, d) =>
      EventAnalytics.attributionCompare(s, d)),
    // upper-triangle label-pair centroid cosine matrix
    "q278_centroid_matrix" -> ((s, d) =>
      Similarity.centroidSimilarityMatrix(eng(s, d).table("embeddings"))),
    // per-source function-word (data-derived top-10) L1 divergence
    "q279_stylometry" -> ((s, d) =>
      Corpus.stylometryProfile(eng(s, d).table("documents"))),
    // Goh–Barabási inter-arrival burstiness per event type
    "q280_interarrival_burst" -> EventAnalytics.interArrivalBurstiness _,
    // streaming 6h trending leaderboard: stream holds window counts,
    // batch ranks the tiny rollup (top-3 per window, name tiebreak)
    "q281_stream_trending" -> ((s, d) => EventsStream.trendingTopK(s, d)),
    // per-label member-to-centroid cosine census (outliers below 0.5)
    "q282_semantic_outliers" -> ((s, d) =>
      Similarity.semanticOutliers(eng(s, d).table("embeddings"))),
    // 12-step power iteration on the event-type transition chain
    "q283_markov_stationary" -> ((s, d) =>
      EventAnalytics.markovStationary(s, d)),
    // fixed-basket (1995) Laspeyres price index per year
    "q284_price_index" -> ((s, d) =>
      Relational.laspeyresPriceIndex(s, d)),
    // char-trigram compressibility proxy per source (templated share)
    "q285_compressibility" -> ((s, d) =>
      Corpus.compressibility(eng(s, d).table("documents"))),
    // revenue whale curve: customer deciles by distributed rank
    "q286_whale_curve" -> Relational.whaleCurve _,
    // exact per-brand Gini of part revenue (rank formula, BIGINT sums)
    "q287_brand_gini" -> Relational.brandGini _,
    // Neyman N_h·σ_h sampling allocation across priority strata
    "q288_neyman_allocation" -> ((s, d) =>
      Relational.neymanAllocation(s, d)),
    // session-level event-type lift matrix P(b|a)/P(b)
    "q289_session_lift" -> EventAnalytics.sessionTypeLift _,
    // H1→H2 spend-tercile migration matrix (distributed rank thirds)
    "q290_value_migration" -> ((s, d) => Relational.valueMigration(s, d)),
    // repeat rate + follow-up depth by first-order size band
    "q291_first_order_repeat" -> Relational.repeatRateByFirstOrder _,
    // sparse TF-IDF cosine near-dup pairs over capped postings
    "q292_tfidf_cosine_pairs" -> ((s, d) =>
      Corpus.tfidfCosinePairs(eng(s, d).table("documents"))),
    // per-year brand revenue ranks + YoY rank delta
    "q293_brand_movers" -> Relational.brandRankMovers _,
    // session count/conversion/value per entry channel
    "q294_entry_value" -> EventAnalytics.entryChannelValue _,
    // signup→first-purchase delay ladder with shares
    "q295_signup_to_purchase" -> EventAnalytics.signupToPurchase _,
    // per-nation exports/imports/net over the supplier→customer flows
    "q296_trade_balance" -> Relational.tradeBalance _,
    // top-5 brands + OTHER presentation rollup (shares sum to 1)
    "q297_top_brands_other" -> ((s, d) =>
      Relational.topBrandsWithOther(s, d)),
    // majority language + purity per source (deterministic argmax)
    "q298_source_purity" -> ((s, d) =>
      Corpus.sourcePurity(eng(s, d).table("documents"))),
    // users by distinct-type count with mean type-mix entropy
    "q299_user_specialization" -> EventAnalytics.userSpecialization _,
    // Brown double-exponential-smoothing forecast over daily revenue
    "q300_brown_forecast" -> Relational.brownForecast _,
    // count-min-sketch frequency contract (exact counts + live-sketch
    // bound check, the q38 HLL discipline)
    "q301_cms_contract" -> ((s, d) => Relational.cmsBrandContract(s, d)),
    // matryoshka truncation: recall@10 of 16-dim-prefix cosine vs full
    "q302_matryoshka_recall" -> ((s, d) =>
      Similarity.matryoshkaRecall(eng(s, d).table("embeddings"))),
    // pairwise Jensen-Shannon divergence between source unigram dists
    "q303_source_jsd" -> ((s, d) =>
      Corpus.sourceJsd(eng(s, d).table("documents"))),
    // k-anonymity equivalence-class census over customer QI triple
    "q304_k_anonymity" -> ((s, d) => Relational.kAnonymity(s, d)),
    // CBO join-cardinality estimate vs actual (uniformity-assumption audit)
    "q305_join_cardinality" -> Relational.joinCardinalityAudit _,
    // product-quantization ADC + exact rerank (exhaustive regime == q28's
    // relation at queryId=1 — the q113 oracle device; production prunes).
    // rerankWidth = Int.MaxValue pins the registered entry to the
    // exhaustive regime at ANY fixture size — a regenerated larger
    // embeddings table can never silently slip into the approximate
    // pruned regime and fail the hash check with no pointer at the cause
    "q306_pq_rerank" -> ((s, d) =>
      Similarity.pqRerankTopK(eng(s, d).table("embeddings"), queryId = 1L,
        rerankWidth = Int.MaxValue)),
    // bloom membership contract (live bloom_filter_agg + exact counts)
    "q307_bloom_contract" -> Relational.bloomMembershipContract _,
    // seasonal-naive vs naive forecast error (MASE) by weekday
    "q308_seasonal_mase" -> Relational.seasonalMase _,
    // embedding-space decontamination census vs the label-0 eval suite
    "q309_semantic_decontam" -> ((s, d) =>
      Similarity.semanticDecontam(eng(s, d).table("embeddings"))),
    // per-source topic coherence (mean pairwise PMI of top-5 tokens)
    "q310_source_coherence" -> ((s, d) =>
      Corpus.sourceCoherence(eng(s, d).table("documents"))),
    // NDCG@10 of 16-dim-prefix ranking vs full-dim graded relevance
    "q311_truncation_ndcg" -> ((s, d) =>
      Similarity.truncationNdcg(eng(s, d).table("embeddings"))),
    // per-brand price-volume-mix revenue bridge between 1995 and 1996
    "q312_price_volume_mix" -> ((s, d) => Relational.priceVolumeMix(s, d)),
    // STL-lite weekday decomposition: centered-MA trend, seasonal index
    "q313_stl_weekday" -> Relational.stlWeekdayDecomposition _,
    // within-doc repetition quality profile per source
    "q314_repetition_profile" -> ((s, d) =>
      Corpus.repetitionProfile(eng(s, d).table("documents"))),
    // 3-round k-core peel census over the near-dup doc graph
    "q315_kcore_peel" -> Graph.docKCore _,
    // order-to-cash cycle decomposition by month
    "q316_order_cycle" -> Relational.orderCycleByMonth _,
    // aspect-ratio bucketing + padding waste for multimodal batches
    "q317_aspect_buckets" -> ((s, d) =>
      graft.multimodal.Multimodal.aspectBuckets(
        eng(s, d).table("documents"))),
    // transition dwell-time matrix (timing twin of q98's counts)
    "q318_transition_dwell" -> EventAnalytics.transitionDwell _,
    // intra-source top-quartile quality vs mean — score calibration
    "q269_score_calibration" -> ((s, d) =>
      Corpus.scoreCalibration(eng(s, d).table("documents"))),
    // whitespace vs BPE-ish token ratio per language (tokenizer cost)
    "q267_tokenizer_fertility" -> ((s, d) => eng(s, d).table("documents")
      .groupBy(col("lang"))
      .agg(sum(TextAnalysis.tokenCount(col("text"))).cast("long")
          .as("ws_tokens"),
        sum(TextAnalysis.bpeishTokenCount(col("text"))).cast("long")
          .as("bpeish_tokens"),
        count(lit(1)).as("n_docs"))
      .withColumn("fertility",
        round(col("bpeish_tokens").cast("double") /
          col("ws_tokens").cast("double"), 6))
      .orderBy(col("lang"))),
    "q40_term_freq" -> Relational.termFrequencies _,
    "q41_dedup_clusters" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      Dedup.clusters(Dedup.minhashPairsShared(docs, d))
    }),
    "q42_dedup_keep" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      Dedup.keepList(docs, Dedup.minhashPairsShared(docs, d))
    }),
    // merit keep-list: keep the highest-QUALITY member of each near-dup
    // cluster (canonical-document selection) instead of q42's id-min
    // accident; same shared pair frame, top-1-per-cluster window
    "q142_keep_best" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      Dedup.keepBestPerCluster(docs, Dedup.minhashPairsShared(docs, d),
        graft.functions.TextAnalysis.qualityScore(col("text")))
    }),
    // curriculum epochs: merit-ordered token prefix sum cut into
    // fixed-token epochs — epoch 0 is the cleanest 4096 tokens
    "q143_curriculum" -> ((s, d) =>
      Corpus.curriculumEpochs(eng(s, d).table("documents"),
        epochTokens = 4096L)),
    // metastore-bucketed co-located join roundtrip (write -> read ->
    // exchange-free join -> rollup); plan shape asserted in specs
    "q144_bucketed_rollup" -> Relational.bucketedSegmentRollup _,
    "q43_sliding_window" -> EventsStream.slidingTraffic _,
    "q44_running_totals" -> EventsStream.runningDailyTotals _,
    "q45_chars_percentiles" -> ((s, d) => eng(s, d).table("documents")
      .groupBy(col("lang"))
      .agg(round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))),
    // IVF probed regime (nprobe=4 of nlist=16) on the oracle surface via
    // the exact-companion pattern (q38/q59/q76): the registered columns
    // are the EXHAUSTIVE top-k (identical relation to q113 — SQL-exact)
    // plus a contract boolean derived from the probed result on the data
    // path: probed∩exhaustive ≥ 3 of k=10. Deterministically TRUE — the
    // k-means init is farthest-point (seeded) over a fixed fixture;
    // measured hits: 5/10 at sf0.01, 6/10 at sf0.1 (near-random fixture
    // embeddings are IVF's worst case; planted-cluster recall is gated
    // separately in IvfSpec). The ≥3 bound deliberately sits 2+ hits
    // below the measured floor: this row gates the PLUMBING (index read,
    // partition pruning, re-rank), not recall quality — IvfSpec owns the
    // recall bar — so a fixture regen or quantizer-seeding change must
    // not flip the whole round red over a 1-hit wobble. The probed rows
    // themselves can carry no SQL oracle: the quantizer is driver-side
    // model state.
    "q46_embed_ivf" -> ((s, d) => {
      val emb = eng(s, d).table("embeddings")
      val probed = Similarity.ivfTopK(emb, queryId = 0L, k = 10, datasetKey = d)
      val exact = Similarity.ivfTopK(emb, queryId = 0L, k = 10,
        nlist = 16, nprobe = 16, datasetKey = d)
      val contract = exact.select(col("vec_id"))
        .join(probed.select(col("vec_id")), Seq("vec_id"), "semi")
        .agg((count(lit(1)) >= 3).as("recall_ok"))
      exact.crossJoin(broadcast(contract))
        .orderBy(col("cos_sim").desc, col("vec_id"))
    }),
    "q47_multimodal_resize" -> ((s, d) =>
      // checksum needs a byte-fold the SQL oracle can't express; it stays in
      // the API (determinism gated by IvfSpec) but off the parity surface
      Multimodal.resizeAndSample(eng(s, d).table("documents")).drop("checksum")),
    "q48_quality_filter" -> ((s, d) =>
      Corpus.qualityFilter(eng(s, d).table("documents"),
        datasetKey = d)),
    "q49_train_split" -> ((s, d) =>
      Corpus.trainSplitStats(eng(s, d).table("documents"))),
    "q50_tfidf" -> ((s, d) =>
      Corpus.tfidfTopTerms(eng(s, d).table("documents"),
        datasetKey = d)),
    "q51_asof_join" -> AsOf.clickLastPurchase _,
    "q52_pivot" -> Relational.returnFlagPivot _,
    "q53_range_join" -> ((s, d) => RangeJoin.nearbyEventCounts(s, d)),
    "q54_stream_join" -> EventsStream.purchaseAttribution _,
    "q55_balanced_sample" -> ((s, d) =>
      Corpus.balancedSample(eng(s, d).table("documents"), "lang", 50)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    "q56_curation" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      Corpus.curate(docs, Dedup.minhashPairsShared(docs, d),
        datasetKey = d)
    }),
    // Gopher-style duplicate n-gram fractions: shingles() is distinct, so
    // dup ratio = 1 - distinct/(n_tokens - n + 1); single-pass per row
    "q57_ngram_repetition" -> ((s, d) => eng(s, d).table("documents")
      .select(col("doc_id"),
        (TextAnalysis.tokenCount(col("text")) - 1).as("n_bigrams"),
        round(lit(1.0) -
          size(TextAnalysis.shingles(col("text"), 2)).cast("double") /
            (TextAnalysis.tokenCount(col("text")) - 1), 4)
          .as("dup_bigram_ratio"),
        (TextAnalysis.tokenCount(col("text")) - 2).as("n_trigrams"),
        round(lit(1.0) -
          size(TextAnalysis.shingles(col("text"), 3)).cast("double") /
            (TextAnalysis.tokenCount(col("text")) - 2), 4)
          .as("dup_trigram_ratio"))
      .orderBy(col("doc_id"))),
    // Pure-SQL surface: temp view + the registered native function — the
    // same engine serving SQL-first users end-to-end through spark.sql
    "q58_sql_surface" -> ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      eng(s, d).table("embeddings").createOrReplaceTempView("embeddings_v")
      s.sql("""
        WITH q AS (SELECT embedding AS q_emb FROM embeddings_v WHERE vec_id = 0)
        SELECT vec_id, label, round(cosine_similarity(embedding, q_emb), 4) AS cos_sim
        FROM embeddings_v, q WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id LIMIT 10""")
    }),
    // exact percentiles + sketch-contract booleans (see
    // Relational.pricePercentilesAudit) — oracle-gated; the raw KLL
    // estimates stay tolerance-gated in RangeJoinSpec
    "q59_approx_percentiles" -> Relational.pricePercentilesAudit _,
    "q60_price_stats" -> Relational.priceQuantityStats _,
    // Benchmark decontamination: docs sharing any word 4-gram with the
    // (deterministic) eval subset doc_id % 97 == 0. API default is n=8;
    // the fixture corpus's ~30-token vocabulary needs n=4 to exercise
    // both hit and miss paths.
    "q61_decontam" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      Corpus.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), n = 4)
    }),
    "q62_pack_sequences" -> ((s, d) =>
      Corpus.packSequences(eng(s, d).table("documents"), budget = 2048)),
    "q63_scrub" -> ((s, d) => {
      val bl = Seq("customer", "vector")
      eng(s, d).table("documents").select(col("doc_id"),
        TextAnalysis.scrub(col("text"), bl).as("scrubbed"),
        TextAnalysis.scrubCount(col("text"), bl).as("n_masked"))
        .orderBy(col("doc_id"))
    }),
    "q64_temperature_resample" -> ((s, d) =>
      Corpus.temperatureResample(eng(s, d).table("documents"))),
    // Bloom runtime-filter join: probe side pruned map-side before its
    // shuffle; exact (oracle is the plain semi join) because the bloom
    // has no false negatives and the semi join removes false positives.
    "q65_bloom_join" -> ((s, d) => RuntimeFilter.bloomNationLineitems(s, d)),
    "q66_inverted_index" -> ((s, d) =>
      Corpus.invertedIndex(eng(s, d).table("documents"),
        datasetKey = d)),
    "q67_chars_histogram" -> ((s, d) => Relational.charsHistogram(s, d)),
    "q68_daily_deltas" -> ((s, d) => Relational.dailyDeltas(s, d)),
    "q69_latest_snapshot" -> Relational.latestSnapshot _,
    "q70_scd2" -> Relational.scd2 _,
    // chunk=32 so the 10-99-token fixture docs produce 1-4 chunks each
    "q71_chunk_spans" -> ((s, d) =>
      Corpus.chunkSpans(eng(s, d).table("documents"), chunkTokens = 32)),
    "q72_funnel" -> EventAnalytics.funnel _,
    "q73_retention" -> EventAnalytics.cohortRetention _,
    "q74_moving_avg" -> Relational.movingAverage7d _,
    "q75_revenue_quartiles" -> Relational.revenueQuartiles _,
    // Datasketches HLL union rollup on the data path; registered columns
    // are exact distincts + a 5%-tolerance assertion on the merged
    // estimate (deterministically TRUE), so the row hash-checks against
    // an ANSI oracle. Raw estimate tolerance gate: EventAnalyticsSpec.
    "q76_sketch_rollup" -> ((s, d) =>
      Relational.dailySketchRollup(s, d)
        .select(col("event_type"), col("n_days"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("approx_ok"))),
    "q77_variant_props" -> Relational.variantPropDeciles _,
    "q78_tws_spend" -> EventsStream.userSpendTws _,
    "q79_value_outliers" -> ((s, d) => Relational.valueOutliers(s, d)),
    // Corpus "data card": the curation pipeline's per-(source, lang)
    // acceptance report — the dataset datasheet a 100 TB curation run
    // publishes alongside its shards
    "q80_datacard" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      val kept = Corpus.curate(docs, Dedup.minhashPairsShared(docs, d),
        datasetKey = d)
        .select(col("doc_id"), lit(1).as("kept"))
      docs.join(kept, Seq("doc_id"), "left")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("kept"), lit(0))).as("n_kept"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("median_chars"))
        .withColumn("keep_rate",
          round(col("n_kept").cast("double") / col("n_docs"), 4))
        .orderBy(col("source"), col("lang"))
    }),
    "q81_merge_upsert" -> ((s, d) => Merge.latestStateMerge(s, d)),
    "q82_fuzzy_match" -> ((s, d) => Fuzzy.partNameResolution(s, d)),
    // exact regime of the mergeable frequent-items sketch (capacity >
    // cardinality); the approximate regime is tolerance-gated in tests
    "q83_heavy_hitters" -> ((s, d) => Relational.approxTopEventTypes(s, d)),
    "q84_quantize_int8" -> ((s, d) =>
      Similarity.quantizationReport(eng(s, d).table("embeddings"))),
    "q85_incremental_agg" -> ((s, d) => Relational.incrementalOrderStats(s, d)),
    "q86_profile" -> Quality.ordersProfile _,
    "q87_constraints" -> Quality.constraintAudit _,
    "q88_gap_fill" -> EventAnalytics.gapFillDaily _,
    "q89_ab_test" -> EventAnalytics.abTest _,
    "q90_pagerank" -> Graph.docPageRank _,
    // Training-shard sink roundtrip: write the corpus through
    // Sink.writeTrainingShards, READ THE SHARDS BACK, and report the
    // per-shard manifest — membership is the deterministic multiplicative
    // hash, so the oracle recomputes it straight from `documents`; parity
    // proves the sharded write/read path preserves every row on the data
    // path (previously only plan/test-gated).
    "q91_shard_manifest" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = tmpPath(s, "graft_shards", d)
      Sink.writeTrainingShards(docs, path, "doc_id", shards = 8)
      s.read.parquet(path)
        .withColumn("shard", Sink.shardOf(col("doc_id"), 8).cast("int"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard"))
    }),
    // Salted join on the oracle surface: result must equal the PLAIN
    // equi-join (salting is pure physical spreading) — the oracle is the
    // unsalted SQL join, so parity proves the skew path's semantics.
    "q92_salted_join" -> ((s, d) => {
      val li = eng(s, d).table("lineitem").select(
        col("l_suppkey").as("s_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val supp = eng(s, d).table("supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      Skew.saltedJoin(li, supp, "s_suppkey", saltFactor = 8)
        .groupBy(col("s_nationkey"))
        .agg(round(sum(col("rev")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("s_nationkey"))
    }),
    // Z-order sink roundtrip: write orders clustered by the Morton
    // interleave of (custkey, totalprice), read back through the layout,
    // and answer a two-dimensional rectangle query — parity with direct
    // SQL proves the clustered write/read preserves the data while the
    // layout's file-skipping benefit stays plan-asserted in SkewSinkSpec.
    // small-file compaction roundtrip: fragment documents into 64 tiny
    // files, compact by OBSERVED bytes, and return the full relation —
    // the oracle is identity (compaction may never change the data);
    // the file-count bound is spec-asserted
    "q153_compaction" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val frag = tmpPath(s, "graft_frag", d)
      val compacted = tmpPath(s, "graft_compact", d)
      docs.repartition(64).write.mode("overwrite").parquet(frag)
      graft.sources.Sink.compact(s, frag, compacted, targetBytes = 512L * 1024)
      s.read.parquet(compacted).orderBy(col("doc_id"))
    }),
    "q93_zorder_roundtrip" -> ((s, d) => {
      val orders = eng(s, d).table("orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val path = tmpPath(s, "graft_zorder", d)
      Sink.writeZOrdered(orders, path, "o_custkey", "o_totalprice", files = 8)
      s.read.parquet(path)
        .filter(col("o_custkey") < 1000 && col("o_totalprice") > 150000.0)
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"),
          min(col("o_orderkey")).as("min_key"))
    }),
    "q94_unigram_surprisal" -> ((s, d) =>
      Corpus.unigramSurprisal(eng(s, d).table("documents"),
        datasetKey = d)),
    // Two-phase (salted) aggregation parity: result must equal the plain
    // groupBy — the oracle IS the unsalted SQL aggregate, proving the
    // hot-key path's semantics on the data path. Aggregates chosen
    // order-independent (integer-valued sum, count, max) so partial
    // merge order cannot perturb the hash.
    "q96_two_phase_agg" -> ((s, d) => {
      val li = eng(s, d).table("lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      Skew.twoPhaseAgg(li, Seq("l_returnflag"), saltFactor = 8,
        partials = Map(
          "qty" -> sum(col("l_quantity")),
          "n" -> count(lit(1)),
          "maxp" -> max(col("l_extendedprice"))),
        finals = Map(
          "total_qty" -> sum(col("qty")),
          "n_lines" -> sum(col("n")),
          "max_price" -> max(col("maxp"))))
        .orderBy(col("l_returnflag"))
    }),
    // Batch exact kNN join: top-k corpus neighbors for EVERY query row
    // (the single-query form is q28)
    "q97_knn_join" -> ((s, d) => {
      val emb = eng(s, d).table("embeddings")
      Similarity.knnJoin(emb, emb.filter(col("vec_id") < 5), k = 3)
    }),
    "q98_event_transitions" -> EventAnalytics.eventTransitions _,
    "q99_bigram_surprisal" -> ((s, d) =>
      Corpus.bigramSurprisal(eng(s, d).table("documents"),
        datasetKey = d)),
    // CCNet-style head/middle/tail terciles over the corpus's own
    // unigram+bigram LM score — the quality-stratification cut mixture
    // recipes consume; global rank via the distributed Ranks machinery
    "q141_perplexity_buckets" -> ((s, d) =>
      Corpus.perplexityBuckets(eng(s, d).table("documents"),
        datasetKey = d)),
    // PMI collocations: adjacent pairs co-occurring beyond what unigram
    // frequencies predict, hapax-floored — the MWE/stop-phrase miner
    "q147_collocations" -> ((s, d) =>
      Corpus.collocations(eng(s, d).table("documents"),
        minCount = 5, topK = 20, datasetKey = d)),
    // point-in-time enrichment: purchases joined to the SCD2 state
    // valid AT event time via the single-shuffle as-of — the
    // leak-free historical feature join
    "q152_pit_join" -> Relational.pointInTimeEnrichment _,
    // equi-DEPTH histogram of order totals: rank-balanced bins with
    // observed bounds — the optimizer-stats artifact (q67 = equi-width)
    "q148_equidepth_hist" -> ((s, d) =>
      Relational.equiDepthHistogram(s, d)),
    // vocabulary coverage curve: corpus token mass covered by the top-k
    // types at k in {10,20,50,100} — the vocab-budget knee finder
    "q149_vocab_coverage" -> ((s, d) =>
      Corpus.vocabCoverage(eng(s, d).table("documents"),
        datasetKey = d)),
    // langid eval: labeled lang vs q24's predicted lang, the confusion
    // matrix of the heuristic classifier
    "q150_langid_confusion" -> ((s, d) => eng(s, d).table("documents")
      .select(col("lang"),
        graft.functions.TextAnalysis.langId(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))),
    "q100_weighted_sample" -> ((s, d) =>
      Corpus.weightedSample(eng(s, d).table("documents"))),
    // Indexed batch ANN join, exhaustive regime: nprobe = nlist makes the
    // cell-probed join provably equal to the exact kNN join, so the whole
    // probe/join machinery is oracle-gated on the data path; the
    // approximate (nprobe < nlist) regime is recall-gated in IvfSpec.
    "q101_ivf_knn_join" -> ((s, d) => {
      val emb = eng(s, d).table("embeddings")
      Similarity.ivfKnnJoin(emb, emb.filter(col("vec_id") < 5), k = 3,
        nlist = 8, nprobe = 8, datasetKey = d)
    }),
    // The cid-keyed SHUFFLE regime of the indexed ANN join — the plan a
    // corpus-scale query side needs (a broadcast dies at Spark's 8 GB cap
    // when the query set is itself a corpus). Exhaustive (nprobe = nlist)
    // and forced off broadcast, so it must equal q101's relation — the
    // same exact-kNN oracle; the plan shape (shuffle join on cid, no
    // broadcast hint) is pinned in PlanShapeSpec.
    "q128_ivf_shuffle_knn" -> ((s, d) => {
      val emb = eng(s, d).table("embeddings")
      Similarity.ivfKnnJoin(emb, emb.filter(col("vec_id") < 5), k = 3,
        nlist = 8, nprobe = 8, datasetKey = d,
        broadcastQueries = Some(false))
    }),
    // Hybrid retrieval: BM25 top-20 and cosine top-20 fused by
    // reciprocal rank (RRF, k=60) over the id-aligned documents and
    // embeddings tables — rank is the only thing fused, so the two
    // scorers' incomparable scales never meet
    "q129_hybrid_rrf" -> ((s, d) =>
      Corpus.hybridRetrieval(eng(s, d).table("documents"),
        eng(s, d).table("embeddings"),
        Seq("spark", "query", "join"), queryVecId = 0L)),
    // Two-stage quantized ANN serving: int8 prefilter (scale cancels out
    // of the cosine, so no dequantization) -> top-50 -> full-precision
    // re-rank. Exhaustive regime (nprobe = nlist over the q46/q107
    // layout), so both stages ride the proven q84 quantization parity
    // onto the oracle surface
    "q130_quantized_rerank" -> ((s, d) =>
      Similarity.ivfQuantizedTopK(eng(s, d).table("embeddings"),
        queryId = 0L, k = 10, rerankWidth = 50,
        nlist = 16, nprobe = 16, datasetKey = d)),
    // Domain-mixture sampling under a token budget: per-source rates
    // min(1, budget*w/avail) with the deterministic hash draw; src3's
    // 1.5 weight exercises the rate cap, unweighted sources rate 0
    "q131_mixture_sample" -> ((s, d) =>
      Corpus.mixtureSample(eng(s, d).table("documents"),
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 1.5),
        tokenBudget = 2000L)),
    // Leakage-free split (the FIX to q119's audit): drop from train
    // every near-dup of a val/test doc; eval docs never move
    "q132_leakage_free_split" -> ((s, d) =>
      Corpus.leakageFreeSplit(eng(s, d).table("documents"), d)),
    // Snapshot diff for incremental runs: the "new" snapshot is derived
    // deterministically — drop ids %13==0 (removed), append ' v2' to
    // %17==0 (changed), renumber %19==0 by +1000000 (added) — so all
    // four statuses are exercised
    "q133_snapshot_diff" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionAll(docs.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      Corpus.snapshotDiff(docs, newSnap)
    }),
    // Padding-waste report: per length-bin cost of naive pad-to-512
    // batching — the measurement that motivates q62's packing
    "q134_padding_waste" -> ((s, d) =>
      Corpus.paddingWaste(eng(s, d).table("documents"))),
    // Embedding health audit: per-dim mean/std/min/max + near-zero
    // fraction — run before any index build over a fresh embedding drop
    "q135_embedding_health" -> ((s, d) =>
      Similarity.embeddingHealth(eng(s, d).table("embeddings"))),
    // Degree-ordered triangle census of the near-dup graph (7th consumer
    // of the shared pair frame); oracle enumerates id-ordered triples
    "q102_triangles" -> Graph.docTriangles _,
    // Incremental JOIN-view maintenance: the per-nation revenue rollup is
    // maintained from the delta partition only (delta ⋈ dims, merged with
    // base partials) — the oracle recomputes from the full fact table,
    // proving merged ≡ full while the engine never rescans history.
    "q103_incremental_join" -> ((s, d) => Relational.incrementalNationRevenue(s, d)),
    // Cross-corpus near-dup join (paraphrase-level decontamination):
    // even-id probes against odd-id corpus — a split the fixture's
    // planted near-dup pairs straddle; oracle is the brute-force
    // Jaccard theta join
    "q104_neardup_join" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      Dedup.minhashJoin(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    }),
    // Stream-static enrichment join (events stream ⋈ broadcast customer
    // dim → per-nation rollup); oracle is the batch join
    "q105_stream_enrich" -> EventsStream.nationSpend _,
    // Streaming ANN enrichment (q105's pattern with an INDEXED static
    // side): micro-batches of query vectors probe the IVF layout via
    // foreachBatch + ivfKnnJoin; exhaustive regime ≡ the exact kNN join
    "q116_stream_ann_enrich" -> EventsStream.annEnrich _,
    // --- ANN index builds as their own timed entries. Bench runs these
    // FIRST in each pass (right after the per-pass memo invalidation), so
    // they price the full-corpus partitioned write while q29/q46/q101
    // price PROBE latency against a warm index — the figure a 100x-scale
    // consumer cares about, since the build is amortized by design.
    // Each is also a roundtrip oracle: the layout read back must contain
    // exactly the corpus (nothing lost or duplicated by the write).
    // q106 builds q29's layout, q107 q46's, q108 q101's.
    "q106_lsh_index_build" -> ((s, d) => lshLayoutCheck(s,
      Similarity.lshIndex(eng(s, d).table("embeddings"), datasetKey = d).path)),
    // q151's layout as its own timed build entry (the q106-q108
    // discipline: builds run FIRST each bench pass and are counted in
    // builds_total, so q151 measures PROBE latency against the warm
    // appended layout, not build+probe conflated). The completeness
    // check is q106's per-table pair, over base ∪ delta. Expected cost
    // vs q106: pass 1 pays base-build (~0.8 x q106) + delta append;
    // later passes pay the delta append ALONE — the gen=base subtree is
    // disk-memoized per JVM while gen=delta Overwrite-rewrites, so the
    // bench's per-pass memo clear re-times exactly the steady-state
    // incremental cost — see Similarity.lshIndexIncremental.
    "q154_lshincr_index_build" -> ((s, d) => {
      val emb = eng(s, d).table("embeddings")
      lshLayoutCheck(s, Similarity.lshIndexIncremental(
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(5)) === 0), datasetKey = d).path)
    }),
    "q107_ivf_index_build" -> ((s, d) =>
      ivfLayoutCheck(s, d, Similarity.DefaultNlist)),
    // Stream-stream LEFT OUTER interval join (q54's hard variant: null
    // emission gated on watermark close-out; see
    // EventsStream.purchaseAttributionOuter for the drain-determinism cut)
    "q109_stream_outer_join" -> EventsStream.purchaseAttributionOuter _,
    // BM25 top-k retrieval over the documents table (the retrieval half
    // of a RAG / query-relevance curation pipeline)
    "q110_bm25" -> ((s, d) =>
      Corpus.bm25TopDocs(eng(s, d).table("documents"),
        Seq("spark", "query", "join"))),
    // Batch BM25 retrieval join: per-query top-k over a query TABLE (the
    // retrieval analogue of knnJoin; q110 scores one literal term set).
    // Query 2 carries a term absent from the corpus ("shuffle") — it must
    // contribute no rows on either engine.
    "q115_bm25_join" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, Seq("spark", "query", "join")),
        (1L, Seq("stream", "window", "batch")),
        (2L, Seq("sort", "merge", "shuffle"))).toDF("query_id", "terms")
      Corpus.bm25Retrieval(eng(s, d).table("documents"), queries)
    }),
    // RAG chunk retrieval: q115's BM25 at q71's chunk granularity —
    // passage scoring over 32-token chunks, chunk text never built
    "q145_chunk_retrieval" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, Seq("spark", "query", "join")),
        (1L, Seq("stream", "window", "batch")),
        (2L, Seq("sort", "merge", "shuffle"))).toDF("query_id", "terms")
      Corpus.chunkRetrieval(eng(s, d).table("documents"), queries,
        chunkTokens = 32, topK = 5)
    }),
    // Corpus-level duplicated-span removal (C4/RefinedWeb boilerplate
    // cut at 3-token-block granularity): drop every block occurring in
    // more than one document, reassemble survivors in order
    "q117_dedup_spans" -> ((s, d) =>
      Corpus.dedupSpans(eng(s, d).table("documents"))),
    // SemDeDup-style semantic dedup: q30's near-dup pairs closed into
    // clusters, each keeping the member closest to the cluster centroid
    "q118_semantic_keeplist" -> ((s, d) =>
      Similarity.semanticKeepList(eng(s, d).table("embeddings"), datasetKey = d)),
    // Train/eval leakage audit: eval docs near-dupped with a train doc
    // (shared pair frame x deterministic split — the eval-trust gate)
    "q119_leakage_audit" -> ((s, d) =>
      Corpus.leakageAudit(eng(s, d).table("documents"), d)),
    // Cross-source duplication matrix: near-dup pair counts per
    // (source, source) cell — the provenance/mixture-weight view
    "q120_source_dup_matrix" -> ((s, d) =>
      Corpus.crossSourceDupMatrix(eng(s, d).table("documents"), d)),
    // Quality-tier curation report: fixed-threshold quality bands with
    // per-tier token mass (the cost of each curation bar, in tokens)
    "q121_quality_tiers" -> ((s, d) =>
      Corpus.qualityTierReport(eng(s, d).table("documents"))),
    // Per-label embedding diversity (variance spread = mean squared
    // distance to centroid — collapse diagnostic, O(n) not O(n^2))
    "q122_embedding_diversity" -> ((s, d) =>
      Similarity.embeddingDiversity(eng(s, d).table("embeddings"))),
    // Streaming ingestion near-dup gate: incoming docs (id < 50) checked
    // against the static corpus (id >= 50) via the bipartite minhash
    // join; per-doc verdicts are batch-boundary-independent
    "q123_stream_neardup_gate" -> EventsStream.nearDupGate _,
    // Zipf/token-distribution fingerprint: log-log frequency-rank slope
    // plus top-10 mass — the cross-ingest drift metric
    "q124_zipf_report" -> ((s, d) =>
      Corpus.zipfReport(eng(s, d).table("documents"),
        datasetKey = d)),
    // Best-of-per-group curation pick: top-5 quality docs per language
    // (merit-ordered complement of q55's hash-random cap)
    "q125_top_quality" -> ((s, d) =>
      Corpus.topQualityPerGroup(eng(s, d).table("documents"), "lang", 5)),
    // Packing efficiency audit: bins, token mass, straddle count, and
    // closed-bin fill of the q62 layout — the budget-tuning one-liner
    "q127_packing_report" -> ((s, d) =>
      Corpus.packingReport(eng(s, d).table("documents"), budget = 2048)),
    // Multi-benchmark decontamination: two eval suites swept in one
    // corpus pass (q61 generalized from one suite to many)
    "q126_decontam_many" -> ((s, d) => {
      val docs = eng(s, d).table("documents")
      val clean = docs.filter(col("doc_id") % 97 =!= 0 &&
        col("doc_id") % 89 =!= 0)
      Corpus.decontaminateMany(clean, Seq(
        "evalA" -> docs.filter(col("doc_id") % 97 === 0),
        "evalB" -> docs.filter(col("doc_id") % 89 === 0)), n = 4)
    }),
    // IVF probe machinery in its exhaustive regime (nprobe = nlist):
    // provably equal to brute force, so the whole ivfTopK path — index
    // read through probed directories, partition pruning, cosine re-rank
    // — carries an oracle; q46 (nprobe < nlist) remains the approximate
    // regime, recall-gated in IvfSpec (its k-means quantizer is
    // driver-side model state no SQL engine can recompute)
    "q113_ivf_exhaustive" -> ((s, d) =>
      Similarity.ivfTopK(eng(s, d).table("embeddings"), queryId = 0L, k = 10,
        nlist = 16, nprobe = 16, datasetKey = d)),
    // Incremental index maintenance: 4/5 of the corpus builds the layout,
    // the remaining fifth is APPENDED against the frozen quantizer (no
    // retrain, no rewrite — the daily-ingest path at 100 TB). Probed
    // exhaustively (nprobe = nlist) the appended layout must equal the
    // brute-force top-k over the WHOLE corpus — q113's oracle relation —
    // which is only true if every appended vector landed probe-reachable
    // in the layout. The query vector itself lives in the DELTA, so the
    // probe also proves appended rows are findable as queries.
    "q140_ivf_append" -> ((s, d) => {
      val emb = eng(s, d).table("embeddings")
      Similarity.ivfIncrementalTopK(
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(5)) === 0),
        queryId = 0L, k = 10, nlist = 8, nprobe = 8, datasetKey = d)
    }),
    // Tokenizer-coverage metric: per-doc out-of-vocabulary rate against
    // the corpus top-20 vocabulary (the fixture has ~31 distinct tokens,
    // so 20 leaves real OOV mass for the metric to measure)
    "q112_oov_rate" -> ((s, d) =>
      Corpus.oovRate(eng(s, d).table("documents"), vocabSize = 20)),
    // Contrastive hard-negative mining: per query, the top-3 most-similar
    // vectors with a DIFFERENT label
    "q111_hard_negatives" -> ((s, d) => {
      val emb = eng(s, d).table("embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5), k = 3)
    }),
    // The indexed miner in its exhaustive regime (nprobe = nlist, over
    // q101/q108's nlist=8 layout): provably equal to the exact miner, so
    // the whole ivfHardNegatives path — probe-cell expression, cid
    // equi-join, label-inequality, window top-k — carries q111's oracle;
    // the probed regime is recall-gated in IvfSpec
    "q114_ivf_hard_negatives" -> ((s, d) => {
      val emb = eng(s, d).table("embeddings")
      Similarity.ivfHardNegatives(emb, emb.filter(col("vec_id") < 5), k = 3,
        nlist = 8, nprobe = 8, datasetKey = d)
    }),
    "q108_ivf8_index_build" -> ((s, d) => ivfLayoutCheck(s, d, 8)),
    // Wire-source roundtrip: serialize a dimension into the reference's
    // {"data":[...]} wire format (raw keys with spaces, exactly what a
    // migrating user captures with curl — oec.py:22/62), read it back
    // through the DSv2 `oecjson` source via the endpoint= seam, and
    // aggregate — parity with direct SQL on the source table proves the
    // source's record decode, name normalization, and type inference on
    // the data path (previously only ScalaTest-gated).
    "q95_wire_roundtrip" -> ((s, d) => {
      val nation = eng(s, d).table("nation")
      val recs = nation.select(
        col("n_nationkey").as("Nation ID"), col("n_name").as("Nation"),
        col("n_regionkey").as("Region ID"))
        .toJSON.collect() // 25-row dimension: this is fixture capture, not a data path
      val dir2 = java.nio.file.Paths.get(tmpPath(s, "graft_wire", d))
      java.nio.file.Files.createDirectories(dir2)
      // two response files — exercises one-partition-per-response planning
      recs.grouped(math.max(1, (recs.length + 1) / 2)).zipWithIndex.foreach {
        case (chunk, i) => java.nio.file.Files.writeString(
          dir2.resolve(s"r$i.json"), chunk.mkString("{\"data\": [", ",", "]}"))
      }
      s.read.format("oecjson").option("endpoint", s"file:$dir2").load()
        .groupBy(col("region_id"))
        .agg(count(lit(1)).as("n_nations"), min(col("nation")).as("first_nation"))
        .orderBy(col("region_id"))
    })
  )

  /** DuckDB twin of `TextAnalysis.shingles(text, 3)` as a `(doc_id, sh)`
    * select over `documents` — the term space of every shingle-family
    * oracle. Margin-prefixed: interpolate it into a `stripMargin` string.
    */
  private val shinglesSql =
    """ SELECT doc_id, list_distinct(list_transform(
      |   generate_series(1, len(string_split(text, ' ')) - 2),
      |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |        || ' ' || string_split(text, ' ')[i+2])) AS sh
      | FROM documents"""

  /** The >= 0.8 shingle-Jaccard `pairs (doc_a, doc_b)` CTE over a CTE `s`
    * of [[shinglesSql]] rows. Margin-prefixed, like [[shinglesSql]].
    */
  private val jaccardPairsSql =
    """pairs AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM s a JOIN s b ON a.doc_id < b.doc_id
      | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)"""

  /** Connected components of `pairs` as recursive CTEs: `edges` holds
    * both directions of each pair and `reach (src, dst)` every node `src`
    * reaches. Margin-prefixed, like [[shinglesSql]].
    */
  private val reachSql =
    """edges AS (
      | SELECT doc_a AS src, doc_b AS dst FROM pairs
      | UNION SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      | WITH RECURSIVE r(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
      | SELECT * FROM r)"""

  /** The df-capped (<= 256) postings CTEs over a CTE `s` of [[shinglesSql]]
    * rows: `p` (doc, gram), `keep` (grams kept), `kp` and the pair
    * intersection counts `i (doc_a, doc_b, n_int)`. Margin-prefixed, like
    * [[shinglesSql]].
    */
  private val postingsPairsSql =
    """p AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |keep AS (SELECT g FROM p GROUP BY g HAVING count(*) <= 256),
      |kp AS (SELECT p.doc_id, p.g FROM p JOIN keep USING (g)),
      |i AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_int
      | FROM kp a JOIN kp b ON a.g = b.g AND a.doc_id < b.doc_id
      | GROUP BY 1, 2)"""

  /** Exact cosine top-10 against `vec_id = 0` over `embeddings`: the
    * brute-force relation every exhaustive ANN regime must equal. */
  private val cosineTop10Sql =
    """WITH q AS (SELECT embedding AS q_emb FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id = 0)
      |SELECT vec_id, label,
      | round(list_inner_product(embedding, q_emb)
      |   / (sqrt(list_inner_product(embedding, embedding))
      |      * sqrt(list_inner_product(q_emb, q_emb))), 4) AS cos_sim
      |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings, q WHERE vec_id <> 0
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** The BM25 corpus CTEs over `documents`: `toks (doc_id, tok)`, `lens
    * (doc_id, dl)` and the one-row `st (n_docs, avgdl)`. Margin-prefixed,
    * like [[shinglesSql]]; interpolate it with `raw` (the regex holds a
    * backslash).
    */
  private val bm25StatsSql =
    """toks AS (
      | SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      | FROM documents),
      |lens AS (
      | SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS dl
      | FROM documents),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
      |       FROM lens)"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. Lazy:
    * some entries read private vals declared further down.
    */
  lazy val oracleSql: Map[String, String] = Map(
    "q01_year_nation" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS year, n_name AS nation,
        | round(sum(l_extendedprice), 2) AS trade_value
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE year(o_orderdate) = 1995
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // shared scan: one branch per grouping set, tagged with the same
    // listed-order grouping_id bits Spark emits ({Y,N}=0, {N}=2, {}=3)
    "q146_shared_scan" ->
      """WITH j AS (
        | SELECT year(o_orderdate) AS yr, n_name, l_extendedprice
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |SELECT CAST(0 AS INTEGER) AS gid, CAST(yr AS INTEGER) AS year,
        | n_name AS nation, round(sum(l_extendedprice), 2) AS trade_value,
        | CAST(count(*) AS BIGINT) AS line_count
        |FROM j GROUP BY 2, 3
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), CAST(NULL AS INTEGER), n_name,
        | round(sum(l_extendedprice), 2), CAST(count(*) AS BIGINT)
        |FROM j GROUP BY 3
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), CAST(NULL AS INTEGER),
        | CAST(NULL AS VARCHAR), round(sum(l_extendedprice), 2),
        | CAST(count(*) AS BIGINT)
        |FROM j
        |ORDER BY 1, 2, 3""".stripMargin,
    "q04_multi_cut" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS year, r_name AS region,
        | round(sum(l_extendedprice), 2) AS trade_value,
        | sum(l_quantity) AS quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE year(o_orderdate) IN (1995, 1996) AND r_name IN ('ASIA', 'EUROPE')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q05_pricing_summary" ->
      """SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
        | sum(l_quantity) AS quantity,
        | round(sum(l_extendedprice), 2) AS trade_value,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS discounted_value,
        | round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS charged_value,
        | round(avg(l_quantity), 4) AS avg_quantity,
        | count(*) AS line_count
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q06_global_agg" ->
      """SELECT round(sum(l_extendedprice), 2) AS trade_value,
        | count(*) AS line_count,
        | count(DISTINCT l_orderkey) AS order_count
        |FROM lineitem""".stripMargin,
    "q07_region_year" ->
      """SELECT r_name AS region, CAST(year(o_orderdate) AS INTEGER) AS year,
        | round(sum(l_extendedprice), 2) AS trade_value
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q08_brand_stats" ->
      """SELECT p_brand AS brand, sum(l_quantity) AS quantity,
        | max(l_extendedprice) AS max_price, min(l_extendedprice) AS min_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q09_supplier_nation" ->
      """SELECT n_name AS supplier_nation,
        | round(sum(l_extendedprice), 2) AS trade_value,
        | count(*) AS line_count
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_segment_priority" ->
      """SELECT c_mktsegment AS mkt_segment, o_orderpriority AS order_priority,
        | count(DISTINCT l_orderkey) AS order_count,
        | round(sum(l_extendedprice), 2) AS trade_value
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_members_nation" ->
      """SELECT DISTINCT n_nationkey AS id, n_name AS label
        |FROM nation ORDER BY id""".stripMargin,
    "q03_members_year" ->
      """SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS id
        |FROM orders ORDER BY id""".stripMargin,
    "q11_top_customers" ->
      """SELECT c_custkey, c_name,
        | round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,
    "q12_nation_rank" ->
      """WITH agg AS (
        | SELECT r_name AS region, n_name AS nation,
        |  round(sum(l_extendedprice), 2) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2)
        |SELECT region, nation, revenue,
        | CAST(rank() OVER (PARTITION BY region ORDER BY revenue DESC, nation) AS INTEGER) AS rank_in_region
        |FROM agg ORDER BY region, rank_in_region, nation""".stripMargin,
    "q13_semi_join" ->
      """SELECT o_orderpriority, count(*) AS order_count,
        | round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_anti_join" ->
      """SELECT c_mktsegment, count(*) AS customer_count
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_union_nations" ->
      """SELECT DISTINCT nation FROM (
        | SELECT n_name AS nation FROM customer JOIN nation ON c_nationkey = n_nationkey
        | UNION
        | SELECT n_name AS nation FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |ORDER BY nation""".stripMargin,
    "q16_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderstatus,
        | count(*) AS order_count, round(sum(o_totalprice), 2) AS total_price,
        | CAST(grouping(year(o_orderdate)) * 2 + grouping(o_orderstatus) AS BIGINT) AS lvl
        |FROM orders GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
        |ORDER BY o_year ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,
    "q17_events_hourly" -> eventsHourlyOracle,
    "q18_events_propk" ->
      """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS prop_k,
        | count(*) AS event_count, round(sum(value), 2) AS total_value
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_events_daily" ->
      """SELECT date_trunc('day', ts) AS event_day,
        | count(*) AS event_count, count(DISTINCT user_id) AS user_count,
        | round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q138_events_window" ->
      """SELECT date_trunc('day', ts) AS event_day, event_type,
        | count(*) AS event_count, round(sum(value), 2) AS total_value
        |FROM events
        |WHERE date_trunc('day', ts) BETWEEN TIMESTAMP '2024-01-05 00:00:00'
        |  AND TIMESTAMP '2024-01-09 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q20_docs_lang" ->
      """SELECT lang, count(*) AS doc_count,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q22_token_stats" ->
      """SELECT lang,
        | CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens,
        | round(CAST(CAST(sum(CAST(round(round(CAST(len(list_distinct(
        |   string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 4)
        |   * 10000, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*)) / 10000 AS avg_ttr,
        | count(*) AS doc_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_doc_quality" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_bpeish,
        | round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / len(string_split(text, ' ')), 4) AS ttr,
        | round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |   / length(text), 4) AS alpha_ratio,
        | 0.4 * least(len(string_split(text, ' ')) / 64.0, 1.0)
        |   + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / len(string_split(text, ' ')))
        |   + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |       / length(text)) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q24_langid" ->
      """WITH scored AS (
        | SELECT doc_id, lang,
        |  length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
        |  len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) AS s_en,
        |  len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('le','la','et','les','des','un','une','est','dans','que'))) AS s_fr,
        |  len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('el','la','de','que','y','los','las','es','en','un'))) AS s_es,
        |  len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('der','die','und','das','ist','ein','eine','nicht','mit','den'))) AS s_de
        | FROM documents)
        |SELECT doc_id, lang,
        | CASE WHEN cjk > 0 THEN 'zh'
        |      WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
        |      WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
        |      WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
        |      WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
        |      ELSE 'de' END AS predicted
        |FROM scored ORDER BY doc_id""".stripMargin,
    // token/shingle hash is md5-low-60 read textually (chars 18-32 of the
    // hex form) — defined byte-identically in every engine, which is the
    // whole reason the fingerprint chain is checkable here
    "q25_fingerprint" ->
      """WITH t AS (
        | SELECT doc_id, string_split(trim(text), ' ') AS toks,
        |  list_distinct(list_transform(
        |   generate_series(1, len(string_split(text, ' ')) - 2),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2])) AS sh
        | FROM documents)
        |SELECT doc_id,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(toks,
        |     tk -> CAST(concat('0x', substr(md5(tk), 18, 15)) AS BIGINT)
        |           % 2147483647)),
        |   (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fingerprint,
        | list_min(list_transform(sh,
        |   s2 -> CAST(concat('0x', substr(md5(s2), 18, 15)) AS BIGINT)))
        |   AS min_shingle_hash
        |FROM t ORDER BY doc_id""".stripMargin,
    "q26_minhash_pairs" ->
      s"""WITH s AS (
        |$shinglesSql)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // exact Jaccard pairs: the oracle mirrors the inverted-index plan —
    // postings, df cap, pairwise intersect counts, size join — so the
    // contract stays exact even if the cap ever bites
    "q136_jaccard_pairs" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$postingsPairsSql,
        |z AS (SELECT doc_id, len(sh) AS n FROM s)
        |SELECT doc_a, doc_b,
        | round(CAST(n_int AS DOUBLE) / (za.n + zb.n - n_int), 4) AS jaccard
        |FROM i JOIN z za ON i.doc_a = za.doc_id
        | JOIN z zb ON i.doc_b = zb.doc_id
        |WHERE CAST(n_int AS DOUBLE) / (za.n + zb.n - n_int) >= 0.8
        |ORDER BY 1, 2""".stripMargin,
    // containment pairs: same postings-index oracle as q136 with the
    // overlap-coefficient numerator/denominator; emits both coefficients
    "q137_containment_pairs" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$postingsPairsSql,
        |z AS (SELECT doc_id, len(sh) AS n FROM s)
        |SELECT doc_a, doc_b,
        | round(CAST(n_int AS DOUBLE) / least(za.n, zb.n), 4) AS overlap,
        | round(CAST(n_int AS DOUBLE) / (za.n + zb.n - n_int), 4) AS jaccard
        |FROM i JOIN z za ON i.doc_a = za.doc_id
        | JOIN z zb ON i.doc_b = zb.doc_id
        |WHERE CAST(n_int AS DOUBLE) / least(za.n, zb.n) >= 0.8
        |ORDER BY 1, 2""".stripMargin,
    // near-dup degree: the q136 pair relation unpivoted to endpoints and
    // aggregated per doc — count of partners + strongest similarity
    "q139_dup_degree" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$postingsPairsSql,
        |z AS (SELECT doc_id, len(sh) AS n FROM s),
        |j AS (
        | SELECT doc_a, doc_b,
        |  CAST(n_int AS DOUBLE) / (za.n + zb.n - n_int) AS jac
        | FROM i JOIN z za ON i.doc_a = za.doc_id
        |  JOIN z zb ON i.doc_b = zb.doc_id
        | WHERE CAST(n_int AS DOUBLE) / (za.n + zb.n - n_int) >= 0.8),
        |sym AS (SELECT doc_a AS doc_id, jac FROM j
        |        UNION ALL SELECT doc_b AS doc_id, jac FROM j)
        |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_dups,
        | round(max(jac), 4) AS max_jaccard
        |FROM sym GROUP BY 1 ORDER BY 1""".stripMargin,
    // SimHash pairs: the per-token votes are md5 bits (SimHashVotes), so
    // the oracle recomputes the FULL path — fingerprints (per-bit
    // majority votes), pigeonhole banding (4 x 16-bit slices), candidate
    // equi-join, and bit_count(xor) hamming verification — from the raw
    // documents table. Previously no_oracle (engine-seeded xxhash).
    "q27_simhash_pairs" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tk
        | FROM documents),
        |fpbits AS (
        | SELECT doc_id, k,
        |  CASE WHEN sum(CASE WHEN
        |    (CAST(concat('0x', substr(md5(tk), 1, 16)) AS UBIGINT) >> k) & 1 = 1
        |   THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
        | FROM toks, range(0, 64) t(k)
        | GROUP BY 1, 2),
        |fps AS (
        | SELECT doc_id,
        |  sum(CAST(bit AS HUGEINT) * (CAST(1 AS HUGEINT) << k)) AS fp_u
        | FROM fpbits GROUP BY 1),
        |fpsigned AS (
        | SELECT doc_id, fp_u,
        |  CAST(fp_u - CASE WHEN fp_u >= CAST('9223372036854775808' AS HUGEINT)
        |   THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS BIGINT) AS fp
        | FROM fps),
        |chunks AS (
        | SELECT doc_id, fp, c,
        |  CAST((fp_u // (CAST(1 AS HUGEINT) << (c * 16))) % 65536 AS BIGINT) AS sig
        | FROM fpsigned, range(0, 4) t(c)),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS doc_a, a.fp AS fp_a,
        |  b.doc_id AS doc_b, b.fp AS fp_b
        | FROM chunks a JOIN chunks b
        |  ON a.c = b.c AND a.sig = b.sig AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
        |FROM cand
        |WHERE bit_count(xor(fp_a, fp_b)) <= 3
        |ORDER BY 1, 2""".stripMargin,
    "q28_embed_knn" ->
      cosineTop10Sql,
    // LSH probe top-k: the hyperplane components are md5 bits
    // (Similarity.planeComponent), so the oracle recomputes the FULL
    // probe — 4 plane families (tables x 8 planes), per-table bucket
    // keys, the query's Hamming-1 multi-probe set, candidate union,
    // exact cosine re-rank — from the raw embeddings. Previously
    // no_oracle (engine-private plane seeding).
    // FP-BOUNDARY ASSUMPTION (q29 and q30): a bucket bit is the SIGN of
    // a 64-term double dot product. Spark accumulates those terms in
    // index order; DuckDB's group-aggregate sums them in unspecified
    // order — two orderings of the same doubles can differ by a few
    // ulps, so a plane dot within an ulp of zero could flip a bit and
    // break hash parity on adversarial data. The fixture embeddings are
    // i.i.d. continuous draws, so exact zeros have measure ~0 and every
    // observed dot sits far (>>1e-9) from the boundary; like q104's
    // S-curve recall caveat this is a documented contract of the oracle
    // pair, not an engine defect. Data engineered to land dots at ±1
    // ulp of 0 would need a tolerance-banded comparison instead.
    "q29_embed_lsh_topk" -> lshTopkOracle,
    // appended LSH layout ≡ rebuilt layout (keys are pure functions of
    // the vector), so the probe is q29's relation over base ∪ delta =
    // the whole table: same oracle
    "q151_lsh_append" -> lshTopkOracle,
    // Embedding near-dup: same portable plane families (4 tables x 6
    // bits), bucket equi-join candidates, exact-cosine verify on the
    // UNROUNDED ratio — the whole data path recomputed by the oracle
    "q30_embed_neardup" ->
      """WITH planes AS (
        | SELECT p, d,
        |  CASE WHEN (CAST(concat('0x', substr(md5(p || ',' || d), 1, 16))
        |    AS UBIGINT) & 1) = 1 THEN 1.0 ELSE -1.0 END AS c
        | FROM range(0, 24) t1(p), range(0, 64) t2(d)),
        |dots AS (
        | SELECT e.vec_id, p.p // 6 AS tbl, p.p % 6 AS bit,
        |  sum(e.embedding[p.d + 1] * p.c) AS dp
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) e, planes p GROUP BY 1, 2, 3),
        |buckets AS (
        | SELECT vec_id, tbl,
        |  sum(CASE WHEN dp >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS bucket
        | FROM dots GROUP BY 1, 2),
        |cand AS (
        | SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        | FROM buckets a JOIN buckets b
        |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT c.vec_a, c.vec_b,
        | round(list_inner_product(ea.embedding, eb.embedding)
        |   / (sqrt(list_inner_product(ea.embedding, ea.embedding))
        |      * sqrt(list_inner_product(eb.embedding, eb.embedding))), 4) AS cos_sim
        |FROM cand c
        | JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) ea ON ea.vec_id = c.vec_a
        | JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) eb ON eb.vec_id = c.vec_b
        |WHERE list_inner_product(ea.embedding, eb.embedding)
        |   / (sqrt(list_inner_product(ea.embedding, ea.embedding))
        |      * sqrt(list_inner_product(eb.embedding, eb.embedding))) >= 0.3
        |ORDER BY 1, 2""".stripMargin,
    "q31_label_centroids" ->
      """WITH e AS (
        | SELECT label, vec_id, i AS pos, embedding[i] AS v
        | FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
        |m AS (
        | SELECT label, pos, avg(CAST(v AS DOUBLE)) AS mv, count(*) AS n
        | FROM e GROUP BY 1, 2)
        |SELECT label, CAST(any_value(n) AS BIGINT) AS n_members,
        | round(sqrt(sum(mv * mv)), 6) AS centroid_norm
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    "q32_stream_hourly" -> eventsHourlyOracle,
    "q33_stream_user_state" ->
      """SELECT user_id, count(*) AS n_events,
        | arg_max(event_type, ts) AS last_type,
        | round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q34_multimodal_stats" ->
      """SELECT source, count(*) AS n_assets,
        | CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        | round(avg(16 + doc_id % 64), 4) AS avg_width,
        | max(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
        |     WHEN 1 THEN 'jpeg' ELSE 'wav' END) AS max_format
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // a byte's 16-bin histogram bin is exactly its first hex nibble, so
    // hex(encode(text)) IS the histogram input; bin counts are exact
    // integers, so sqrt of their square-sum is bit-identical cross-engine
    "q35_multimodal_decode" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
        |    WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  hex(encode(text)) AS hx
        | FROM documents),
        |b AS (
        | SELECT doc_id, substr(hx, CAST(2*i + 1 AS INTEGER), 1) AS dig
        | FROM (SELECT doc_id, hx, unnest(range(0, n_bytes)) AS i FROM d)),
        |h AS (SELECT doc_id, dig, count(*) AS c FROM b GROUP BY 1, 2),
        |top AS (SELECT doc_id AS t_doc,
        |  sqrt(CAST(sum(c*c) AS DOUBLE)) AS feat_norm,
        |  CAST(strpos('0123456789ABCDEF',
        |    first(dig ORDER BY c DESC, dig ASC)) - 1 AS INTEGER) AS top_bin
        | FROM h GROUP BY 1)
        |SELECT d.doc_id, d.format, d.n_bytes,
        | coalesce(t.feat_norm, 0.0) AS feat_norm,
        | coalesce(t.top_bin, 0) AS top_bin
        |FROM d LEFT JOIN top t ON d.doc_id = t.t_doc
        |ORDER BY d.doc_id""".stripMargin,
    "q36_range_cut" ->
      """SELECT r_name AS region, round(sum(l_extendedprice), 2) AS trade_value,
        | count(*) AS line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q37_cube_grouping" ->
      """SELECT c_mktsegment, o_orderpriority,
        | count(*) AS order_count, round(sum(o_totalprice), 2) AS total_price,
        | CAST(grouping(c_mktsegment) * 2 + grouping(o_orderpriority) AS BIGINT) AS lvl
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderpriority)
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    // the boolean is the registered 5%-tolerance assertion on the HLL
    // estimate — TRUE by the sketch's error contract, so it hashes
    "q38_approx_distinct" ->
      """SELECT n_name AS nation, count(DISTINCT o_custkey) AS exact_customers,
        | TRUE AS approx_ok
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q39_user_sessions" ->
      """WITH flagged AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        > INTERVAL 30 MINUTE OR
        |       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |  THEN 1 ELSE 0 END AS new_session
        | FROM events),
        |sessions AS (
        | SELECT user_id, ts, value,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        | FROM flagged)
        |SELECT user_id,
        | date_trunc('microsecond', min(ts)) AS session_start,
        | count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    // q39's gaps-and-islands sessions, aggregated to the conversion
    // artifact; duration via integer micros div on both engines
    "q155_session_conversion" ->
      """WITH flagged AS (
        | SELECT user_id, ts, value, event_type,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        > INTERVAL 30 MINUTE OR
        |       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |  THEN 1 ELSE 0 END AS new_session
        | FROM events),
        |sessions AS (
        | SELECT user_id, ts, value, event_type,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        | FROM flagged)
        |SELECT user_id,
        | date_trunc('microsecond', min(ts)) AS session_start,
        | count(*) AS n_events,
        | CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
        |   AS duration_s,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_purchases,
        | sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
        |   AS converted,
        | round(sum(value), 2) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    // same single-sorted-scan dominance formulation as the engine's
    // global merge stage (the oracle needs no bucketed local stage)
    "q156_pareto_front" ->
      """WITH pc AS (
        | SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
        |  count(*) AS n_orders
        | FROM orders GROUP BY 1),
        |pts AS (
        | SELECT total_spend, n_orders, count(*) AS n_customers
        | FROM pc GROUP BY 1, 2)
        |SELECT total_spend, CAST(n_orders AS BIGINT) AS n_orders,
        | CAST(n_customers AS BIGINT) AS n_customers
        |FROM (
        | SELECT *, min(n_orders) OVER (
        |   ORDER BY total_spend DESC, n_orders
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS minprev
        | FROM pts)
        |WHERE minprev IS NULL OR n_orders < minprev
        |ORDER BY total_spend DESC""".stripMargin,
    "q157_order_islands" ->
      """WITH iv AS (
        | SELECT o_custkey, o_orderdate AS start_ts,
        |  o_orderdate + INTERVAL 7 DAY AS end_ts FROM orders),
        |m AS (
        | SELECT *, max(end_ts) OVER (
        |   PARTITION BY o_custkey ORDER BY start_ts, end_ts
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxend
        | FROM iv),
        |s AS (
        | SELECT *, sum(CASE WHEN maxend IS NULL OR start_ts > maxend
        |   THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY o_custkey ORDER BY start_ts, end_ts
        |   ROWS UNBOUNDED PRECEDING) AS island
        | FROM m)
        |SELECT o_custkey, CAST(island AS BIGINT) AS island,
        | min(start_ts) AS island_start, max(end_ts) AS island_end,
        | count(*) AS n_orders
        |FROM s GROUP BY o_custkey, island
        |ORDER BY o_custkey, island""".stripMargin,
    // row_number formulation — rn=1 under (spend DESC, custkey DESC) is
    // exactly max_by's lexicographic (spend, custkey) struct max
    "q158_top_customer" ->
      """WITH spend AS (
        | SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
        | FROM orders GROUP BY 1),
        |ranked AS (
        | SELECT n_name AS nation, c_custkey, spend,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY spend DESC, c_custkey DESC) AS rn
        | FROM spend
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey)
        |SELECT nation, c_custkey AS best_custkey, spend AS best_spend
        |FROM ranked WHERE rn = 1 ORDER BY nation""".stripMargin,
    "q159_source_lang_mix" ->
      """WITH c AS (
        | SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        | count(*) AS n_langs,
        | round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS dominant_share,
        | round(ln(CAST(sum(n) AS DOUBLE)) -
        |   sum(n * ln(CAST(n AS DOUBLE))) / sum(n), 3) AS lang_entropy
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q160_active_7d" -> activeUsers7dOracle,
    "q161_attribution" ->
      """WITH touched AS (
        | SELECT user_id, ts, event_type, value,
        |  last_value(CASE WHEN event_type <> 'purchase'
        |     THEN struct_pack(t := ts, ch := event_type) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        | FROM events)
        |SELECT CASE WHEN touch IS NULL OR touch.t < ts - INTERVAL 7 DAY
        |        THEN 'none' ELSE touch.ch END AS channel,
        | count(*) AS n_purchases, round(sum(value), 2) AS attributed_value
        |FROM touched WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q162_mad_outliers" ->
      """WITH med AS (
        | SELECT event_type, quantile_cont(value, 0.5) AS med
        | FROM events GROUP BY 1),
        |dev AS (
        | SELECT e.event_type, med.med, abs(e.value - med.med) AS absdev
        | FROM events e JOIN med USING (event_type)),
        |mad AS (
        | SELECT event_type, max(med) AS med,
        |  quantile_cont(absdev, 0.5) AS mad
        | FROM dev GROUP BY 1)
        |SELECT dev.event_type, round(mad.med, 4) AS med,
        | round(mad.mad, 4) AS mad, count(*) AS n_events,
        | CAST(sum(CASE WHEN absdev > 3.0 * 1.4826 * mad.mad
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q167_purge_audit" ->
      """WITH forget AS (
        | SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |po AS (
        | SELECT o_orderkey FROM orders
        | WHERE o_custkey IN (SELECT c_custkey FROM forget))
        |SELECT * FROM (
        | SELECT 'customer' AS table_name,
        |  CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purged,
        |  CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_retained
        | FROM customer
        | UNION ALL
        | SELECT 'events',
        |  CAST(sum(CASE WHEN user_id IN (SELECT c_custkey FROM forget)
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN user_id IN (SELECT c_custkey FROM forget)
        |    THEN 0 ELSE 1 END) AS BIGINT)
        | FROM events
        | UNION ALL
        | SELECT 'orders',
        |  CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM forget)
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM forget)
        |    THEN 0 ELSE 1 END) AS BIGINT)
        | FROM orders
        | UNION ALL
        | SELECT 'lineitem',
        |  CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM po)
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM po)
        |    THEN 0 ELSE 1 END) AS BIGINT)
        | FROM lineitem)
        |ORDER BY table_name""".stripMargin,
    "q168_psi_drift" ->
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor(value / 10.0), 0.0), 9.0)
        |   AS BIGINT) AS bin,
        |  user_id % 2 = 0 AS half_a FROM events),
        |counts AS (
        | SELECT bin,
        |  CAST(sum(CASE WHEN half_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN NOT half_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        | FROM binned GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(CASE WHEN half_a THEN 1 ELSE 0 END) AS BIGINT) AS ta,
        |  CAST(sum(CASE WHEN NOT half_a THEN 1 ELSE 0 END) AS BIGINT) AS tb
        | FROM binned)
        |SELECT bin, n_a, n_b,
        | round((CAST(n_a + 1 AS DOUBLE) / (ta + 10) -
        |        CAST(n_b + 1 AS DOUBLE) / (tb + 10)) *
        |   ln((CAST(n_a + 1 AS DOUBLE) / (ta + 10)) /
        |      (CAST(n_b + 1 AS DOUBLE) / (tb + 10))), 6) AS psi_term
        |FROM counts CROSS JOIN tot ORDER BY bin""".stripMargin,
    "q191_jaccard_sweep" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$postingsPairsSql,
        |z AS (SELECT doc_id, len(sh) AS n FROM s),
        |j AS (
        | SELECT doc_a, doc_b,
        |  CAST(n_int AS DOUBLE) / (za.n + zb.n - n_int) AS j
        | FROM i JOIN z za ON doc_a = za.doc_id
        |  JOIN z zb ON doc_b = zb.doc_id),
        |t AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
        |q AS (SELECT threshold, doc_a, doc_b FROM j CROSS JOIN t
        |      WHERE j >= threshold),
        |d AS (SELECT threshold, unnest([doc_a, doc_b]) AS d FROM q)
        |SELECT q2.threshold, q2.n_pairs, d2.n_docs
        |FROM (SELECT threshold, count(*) AS n_pairs FROM q GROUP BY 1) q2
        |JOIN (SELECT threshold, count(DISTINCT d) AS n_docs FROM d
        |      GROUP BY 1) d2 USING (threshold)
        |ORDER BY threshold""".stripMargin,
    "q192_cluster_sizes" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |$reachSql,
        |cl AS (
        | SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        | FROM reach GROUP BY src),
        |cs AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        | count(*) AS n_clusters
        |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,
    "q193_activity_heatmap" ->
      """SELECT (CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |   AS BIGINT) + 4) % 7 AS dow,
        | CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n_events,
        | round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q194_unpivot_measures" ->
      """WITH m AS (
        | SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
        |  FROM lineitem
        | UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice
        |  FROM lineitem
        | UNION ALL SELECT l_returnflag, 'l_discount', l_discount
        |  FROM lineitem
        | UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, measure, count(*) AS n,
        | round(sum(val), 2) AS total, round(min(val), 2) AS min_val,
        | round(max(val), 2) AS max_val
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q195_qoq_growth" ->
      """WITH r AS (
        | SELECT r_name AS region,
        |  CAST(year(o_orderdate) * 4 + (month(o_orderdate) - 1) // 3
        |    AS BIGINT) AS qidx,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        | FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2)
        |SELECT region, qidx, n_orders, revenue,
        | round(revenue - lag(revenue) OVER
        |   (PARTITION BY region ORDER BY qidx), 2) AS qoq_delta
        |FROM r ORDER BY region, qidx""".stripMargin,
    "q196_qty_discount_corr" ->
      """WITH s AS (
        | SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |  sum(l_quantity) AS sx, sum(l_discount) AS sy,
        |  sum(l_quantity * l_discount) AS sxy,
        |  sum(l_quantity * l_quantity) AS sxx,
        |  sum(l_discount * l_discount) AS syy
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        | round((n * sxy - sx * sy) /
        |   sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |  AS corr_qty_discount
        |FROM s ORDER BY 1""".stripMargin,
    "q197_abc_classes" ->
      """WITH b AS (
        | SELECT p_brand,
        |  CAST(round(sum(l_extendedprice) * 100, 0) AS BIGINT) AS cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |c AS (
        | SELECT p_brand, cents,
        |  sum(cents) OVER (ORDER BY cents DESC, p_brand
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(cents) OVER () AS total
        | FROM b)
        |SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
        |  WHEN cum * 20 <= total * 19 THEN 'B' ELSE 'C' END AS abc_class,
        | count(*) AS n_brands,
        | round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS class_revenue
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q198_readability" ->
      """WITH d AS (
        | SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |  CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS s,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        |    AS y
        | FROM documents),
        |a AS (
        | SELECT lang, count(*) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS tot_words,
        |  CAST(sum(s) AS BIGINT) AS tot_sentences,
        |  CAST(sum(y) AS BIGINT) AS tot_syllables
        | FROM d GROUP BY 1),
        |r AS (
        | SELECT *,
        |  round(CAST(tot_words AS DOUBLE) /
        |    greatest(tot_sentences, 1), 6) AS words_per_sentence,
        |  round(CAST(tot_syllables AS DOUBLE) /
        |    greatest(tot_words, 1), 6) AS syllables_per_word
        | FROM a)
        |SELECT lang, n_docs, tot_words, tot_sentences, tot_syllables,
        | words_per_sentence, syllables_per_word,
        | round(206.835 - 1.015 * words_per_sentence -
        |   84.6 * syllables_per_word, 4) AS flesch
        |FROM r ORDER BY lang""".stripMargin,
    "q199_mutual_knn" ->
      """WITH sub AS (
        | SELECT vec_id, embedding, label FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id < 256),
        |p AS (
        | SELECT a.vec_id AS a_id, a.label AS a_label,
        |  b.vec_id AS b_id, b.label AS b_label,
        |  round(list_inner_product(a.embedding, b.embedding) /
        |   (sqrt(list_inner_product(a.embedding, a.embedding)) *
        |    sqrt(list_inner_product(b.embedding, b.embedding))), 4) AS c
        | FROM sub a JOIN sub b ON a.vec_id <> b.vec_id),
        |k AS (
        | SELECT a_id, a_label, b_id, b_label
        | FROM p QUALIFY row_number() OVER
        |   (PARTITION BY a_id ORDER BY c DESC, b_id) <= 5),
        |mk AS (
        | SELECT k1.a_id, k1.a_label, k1.b_label,
        |  CASE WHEN k2.a_id IS NULL THEN 0 ELSE 1 END AS mut,
        |  CASE WHEN k1.a_label = k1.b_label THEN 1 ELSE 0 END AS same
        | FROM k k1 LEFT JOIN k k2
        |  ON k1.a_id = k2.b_id AND k1.b_id = k2.a_id)
        |SELECT a_label AS label, count(DISTINCT a_id) AS n_vecs,
        | count(*) AS n_edges, CAST(sum(mut) AS BIGINT) AS n_mutual,
        | round(CAST(sum(mut) AS DOUBLE) / count(*), 6) AS mutual_rate,
        | CAST(sum(same) AS BIGINT) AS n_same_label,
        | round(CAST(sum(same) AS DOUBLE) / count(*), 6) AS homophily
        |FROM mk GROUP BY 1 ORDER BY 1""".stripMargin,
    "q200_brand_top_parts" ->
      """WITH r AS (
        | SELECT p_brand, p_partkey, round(sum(l_extendedprice), 2) AS revenue
        | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2)
        |SELECT p_brand, p_partkey, revenue,
        | CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY revenue DESC)
        |   AS INTEGER) AS rnk
        |FROM r QUALIFY rnk <= 3 ORDER BY p_brand, rnk, p_partkey""".stripMargin,
    "q201_norm_dup_rate" ->
      """WITH d AS (
        | SELECT source, text,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '',
        |    'g'), ' +', ' ', 'g')) AS norm
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | count(DISTINCT text) AS distinct_raw,
        | count(DISTINCT norm) AS distinct_norm,
        | round(CAST(count(*) - count(DISTINCT text) AS DOUBLE) / count(*), 6)
        |   AS exact_dup_rate,
        | count(DISTINCT text) - count(DISTINCT norm) AS norm_collapsed
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q202_order_backlog" ->
      """WITH ls AS (
        | SELECT l_orderkey, max(l_shipdate) AS last_ship
        | FROM lineitem GROUP BY 1),
        |sp AS (
        | SELECT o_totalprice, date_trunc('month', o_orderdate) AS m0,
        |  greatest(date_trunc('month', o_orderdate),
        |   date_trunc('month', last_ship)) AS m1
        | FROM orders JOIN ls ON o_orderkey = l_orderkey),
        |e AS (
        | SELECT o_totalprice,
        |  unnest(generate_series(m0, m1, INTERVAL 1 MONTH)) AS month
        | FROM sp)
        |SELECT CAST(month AS TIMESTAMP) AS month, count(*) AS open_orders,
        | round(sum(o_totalprice), 2) AS open_value
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q203_revenue_trend" ->
      """WITH m AS (
        | SELECT date_trunc('month', o_orderdate) AS month,
        |  round(sum(o_totalprice), 2) AS revenue
        | FROM orders GROUP BY 1)
        |SELECT CAST(month AS TIMESTAMP) AS month, revenue,
        | round(avg(revenue) OVER (ORDER BY month
        |   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 6) AS trailing_12m,
        | round(revenue - round(avg(revenue) OVER (ORDER BY month
        |   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 6), 6) AS dev
        |FROM m ORDER BY month""".stripMargin,
    "q204_label_separation" ->
      """WITH sub AS (
        | SELECT vec_id, embedding, label FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id < 256),
        |p AS (
        | SELECT a.label AS a_label, b.label AS b_label,
        |  round(list_inner_product(a.embedding, b.embedding) /
        |   (sqrt(list_inner_product(a.embedding, a.embedding)) *
        |    sqrt(list_inner_product(b.embedding, b.embedding))), 4) AS c
        | FROM sub a JOIN sub b ON a.vec_id < b.vec_id),
        |e AS (
        | SELECT a_label AS label, b_label AS other,
        |  CAST(round(c * 10000, 0) AS BIGINT) AS c4 FROM p
        | UNION ALL SELECT b_label, a_label,
        |  CAST(round(c * 10000, 0) AS BIGINT) FROM p),
        |g AS (
        | SELECT label,
        |  count(CASE WHEN label = other THEN 1 END) AS n_intra,
        |  count(CASE WHEN label <> other THEN 1 END) AS n_inter,
        |  CAST(sum(CASE WHEN label = other THEN c4 END) AS BIGINT) AS s4i,
        |  CAST(sum(CASE WHEN label <> other THEN c4 END) AS BIGINT) AS s4o
        | FROM e GROUP BY 1),
        |m AS (
        | SELECT label, n_intra, n_inter,
        |  CAST(sign(s4i) AS BIGINT) *
        |   ((2 * abs(s4i) * 100 + n_intra) // (2 * n_intra)) AS mi6,
        |  CAST(sign(s4o) AS BIGINT) *
        |   ((2 * abs(s4o) * 100 + n_inter) // (2 * n_inter)) AS mo6
        | FROM g)
        |SELECT label, n_intra, n_inter,
        | CAST(mi6 AS DOUBLE) / 1000000.0 AS mean_intra,
        | CAST(mo6 AS DOUBLE) / 1000000.0 AS mean_inter,
        | CAST(mi6 - mo6 AS DOUBLE) / 1000000.0 AS separation
        |FROM m ORDER BY label""".stripMargin,
    "q205_important_suppliers" ->
      """WITH ps AS (
        | SELECT s_suppkey, s_name,
        |  CAST(round(sum(l_extendedprice) * 100, 0) AS BIGINT) AS cents
        | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents,
        |  count(*) AS n_sup FROM ps)
        |SELECT s_suppkey, s_name, round(cents / 100.0, 2) AS revenue,
        | round(CAST(cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6)
        |   AS share
        |FROM ps, t WHERE cents * n_sup * 100 > 105 * total_cents
        |ORDER BY revenue DESC, s_suppkey""".stripMargin,
    "q206_small_qty_revenue" ->
      """WITH pp AS (
        | SELECT l_partkey AS pk, sum(l_quantity) AS sum_qty,
        |  count(*) AS cnt_qty
        | FROM lineitem GROUP BY 1)
        |SELECT p_brand, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS small_qty_revenue
        |FROM lineitem JOIN pp ON l_partkey = pk
        | JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity * 2 * cnt_qty < sum_qty
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q207_weighted_median" ->
      """WITH li AS (
        | SELECT p_brand, l_extendedprice AS price, l_quantity AS w,
        |  l_orderkey, l_linenumber
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |c AS (
        | SELECT p_brand, price,
        |  sum(w) OVER (PARTITION BY p_brand ORDER BY price, l_orderkey,
        |    l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cw,
        |  sum(w) OVER (PARTITION BY p_brand) AS tw
        | FROM li)
        |SELECT p_brand, min(price) AS w_median_price,
        | CAST(min(tw) AS BIGINT) AS total_weight
        |FROM c WHERE cw * 2 >= tw GROUP BY 1 ORDER BY 1""".stripMargin,
    "q208_benford" ->
      """WITH d AS (
        | SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        | FROM orders),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
        |SELECT digit, n,
        | round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |   AS observed_pct,
        | round(log10(1.0 + 1.0 / digit), 6) AS benford_pct
        |FROM g, t ORDER BY digit""".stripMargin,
    "q209_autocorr" ->
      """WITH daily AS (
        | SELECT date_trunc('day', o_orderdate) AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) // 100
        |    AS dollars
        | FROM orders GROUP BY 1),
        |pairs AS (
        | SELECT CAST(1 AS INTEGER) AS lag, a.dollars AS x, b.dollars AS y
        | FROM daily a JOIN daily b ON a.day = b.day + INTERVAL 1 DAY
        | UNION ALL
        | SELECT CAST(7 AS INTEGER), a.dollars, b.dollars
        | FROM daily a JOIN daily b ON a.day = b.day + INTERVAL 7 DAY),
        |s AS (
        | SELECT lag, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(y * y) AS BIGINT) AS syy
        | FROM pairs GROUP BY 1)
        |SELECT lag, n,
        | round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |    CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS autocorr
        |FROM s ORDER BY lag""".stripMargin,
    "q210_mutual_info" ->
      """WITH j AS (
        | SELECT c_mktsegment AS seg, o_orderpriority AS prio
        | FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT seg, prio, count(*) AS nxy FROM j GROUP BY 1, 2),
        |sm AS (SELECT seg, CAST(sum(nxy) AS BIGINT) AS nx
        |  FROM cells GROUP BY 1),
        |pm AS (SELECT prio, CAST(sum(nxy) AS BIGINT) AS ny
        |  FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn FROM cells)
        |SELECT seg, CAST(sum(nxy) AS BIGINT) AS n_orders,
        | round(sum((CAST(nxy AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |   ln((CAST(nxy AS DOUBLE) * CAST(nn AS DOUBLE)) /
        |     (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))), 6) AS mi_contrib
        |FROM cells JOIN sm USING (seg) JOIN pm USING (prio), t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q211_reorder_survival" ->
      """WITH g AS (
        | SELECT CAST(date_diff('day',
        |   lag(o_orderdate) OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate),
        |   o_orderdate) AS INTEGER) AS t_days
        | FROM orders),
        |b AS (SELECT t_days, count(*) AS d FROM g
        |  WHERE t_days IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(d) AS BIGINT) AS n_total FROM b),
        |r AS (
        | SELECT t_days, d,
        |  n_total - COALESCE(CAST(sum(d) OVER (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |    0) AS n_risk
        | FROM b, t),
        |r2 AS (
        | SELECT t_days, d, n_risk,
        |  CASE WHEN d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) /
        |    CAST(n_risk AS DOUBLE)) END AS lnterm
        | FROM r)
        |SELECT t_days, n_risk, d AS n_events,
        | CASE WHEN d >= n_risk THEN 0.0
        |  ELSE round(exp(sum(lnterm) OVER (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        | END AS survival
        |FROM r2 ORDER BY t_days""".stripMargin,
    "q212_revenue_ewma" ->
      """WITH daily AS (
        | SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) // 100
        |    AS dollars
        | FROM orders GROUP BY 1),
        |probes AS (
        | SELECT day, k, day - k * INTERVAL 1 DAY AS src_day,
        |  pow(0.8, k) AS wt
        | FROM daily CROSS JOIN range(0, 7) t(k)),
        |c AS (
        | SELECT p.day, p.k, p.wt, d.dollars
        | FROM probes p JOIN daily d ON p.src_day = d.day)
        |SELECT day, max(CASE WHEN k = 0 THEN dollars END) AS dollars,
        | round(sum(dollars * wt) / sum(wt), 6) AS ewma
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q213_chisq_cells" ->
      """WITH cells AS (
        | SELECT c_mktsegment AS seg, o_orderpriority AS prio,
        |  count(*) AS observed
        | FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |sm AS (SELECT seg, CAST(sum(observed) AS BIGINT) AS nx
        |  FROM cells GROUP BY 1),
        |pm AS (SELECT prio, CAST(sum(observed) AS BIGINT) AS ny
        |  FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(observed) AS BIGINT) AS nn FROM cells),
        |x AS (
        | SELECT seg, prio, observed,
        |  CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(nn AS DOUBLE)
        |    AS expected
        | FROM cells JOIN sm USING (seg) JOIN pm USING (prio), t)
        |SELECT seg, prio, observed, round(expected, 6) AS expected,
        | round((CAST(observed AS DOUBLE) - expected) *
        |   (CAST(observed AS DOUBLE) - expected) / expected, 6)
        |   AS chi2_contrib
        |FROM x ORDER BY seg, prio""".stripMargin,
    "q214_order_overlap" ->
      """WITH ls AS (
        | SELECT l_orderkey, max(l_shipdate) AS last_ship
        | FROM lineitem GROUP BY 1),
        |sp AS (
        | SELECT o_custkey AS cust, o_orderkey AS okey, o_orderdate AS s,
        |  last_ship AS e
        | FROM orders JOIN ls ON o_orderkey = l_orderkey),
        |pc AS (
        | SELECT a.cust, count(*) AS n_overlap_pairs
        | FROM sp a JOIN sp b ON a.cust = b.cust AND a.okey < b.okey
        |  AND a.s <= b.e AND b.s <= a.e
        | GROUP BY 1)
        |SELECT n_overlap_pairs, count(*) AS n_customers
        |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q215_price_elasticity" ->
      """WITH li AS (
        | SELECT p_brand, ln(l_extendedprice) AS x, ln(l_quantity) AS y
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |s AS (
        | SELECT p_brand, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |  sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        | FROM li GROUP BY 1)
        |SELECT p_brand, CAST(n AS BIGINT) AS n_rows,
        | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity
        |FROM s ORDER BY p_brand""".stripMargin,
    "q216_length_anova" ->
      """WITH pl AS (
        | SELECT lang, count(*) AS nl, CAST(sum(n_chars) AS BIGINT) AS sl,
        |  CAST(sum(n_chars * n_chars) AS BIGINT) AS ssl
        | FROM documents GROUP BY 1),
        |g AS (
        | SELECT CAST(sum(nl) AS BIGINT) AS n, CAST(sum(sl) AS BIGINT) AS s,
        |  CAST(sum(ssl) AS BIGINT) AS ss, count(*) AS n_langs,
        |  sum(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
        |    AS grp
        | FROM pl)
        |SELECT n AS n_docs, n_langs,
        | CAST(round(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) *
        |   CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 0) AS BIGINT) AS ss_total,
        | CAST(round(grp - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |   CAST(n AS DOUBLE), 0) AS BIGINT) AS ss_between,
        | round((grp - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |   CAST(n AS DOUBLE)) /
        |  (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |    CAST(n AS DOUBLE)), 6) AS eta2
        |FROM g""".stripMargin,
    "q217_dedup_savings" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |$reachSql,
        |comp AS (
        | SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        | FROM reach GROUP BY src),
        |kl AS (
        | SELECT doc_id FROM documents
        | WHERE doc_id NOT IN
        |   (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)),
        |d AS (
        | SELECT doc_id, source,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS toks
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_kept,
        | CAST(sum(toks) AS BIGINT) AS tokens_total,
        | CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN toks ELSE 0 END)
        |   AS BIGINT) AS tokens_kept,
        | round(1.0 - CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN toks
        |     ELSE 0 END) AS DOUBLE) / CAST(sum(toks) AS DOUBLE), 6)
        |   AS token_savings
        |FROM d LEFT JOIN kl k USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q218_sqrt_allocation" ->
      """WITH ps AS (
        | SELECT source,
        |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
        |    AS BIGINT) AS tokens
        | FROM documents GROUP BY 1),
        |w AS (SELECT source, tokens, sqrt(CAST(tokens AS DOUBLE)) AS w
        |  FROM ps),
        |t AS (SELECT sum(w) AS sum_w FROM w)
        |SELECT source, tokens,
        | least(tokens, CAST(floor(500000.0 * w / sum_w) AS BIGINT))
        |   AS alloc_tokens,
        | round(least(1.0, (500000.0 * w / sum_w) /
        |   CAST(tokens AS DOUBLE)), 6) AS alloc_rate
        |FROM w, t ORDER BY source""".stripMargin,
    "q219_ngram_novelty" ->
      """WITH s AS (
        | SELECT doc_id, source, list_distinct(list_transform(
        |   generate_series(1, len(string_split(text, ' ')) - 2),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2])) AS sh
        | FROM documents),
        |gr AS (SELECT doc_id, source, unnest(sh) AS g FROM s),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM gr GROUP BY 1),
        |pd AS (
        | SELECT doc_id, source, count(*) AS n_grams,
        |  sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS n_first
        | FROM gr JOIN f USING (g) GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        | round(avg(CAST(n_first AS DOUBLE) / CAST(n_grams AS DOUBLE)), 6)
        |   AS mean_novelty
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin,
    "q220_centroid_drift" ->
      """WITH e AS (
        | SELECT label, vec_id % 2 AS half, i AS pos,
        |  CAST(embedding[i] AS DOUBLE) AS v
        | FROM embeddings,
        |  unnest(generate_series(1, len(embedding))) AS t(i)),
        |m AS (
        | SELECT label, half, pos, sum(v) / count(*) AS mv, count(*) AS n
        | FROM e GROUP BY 1, 2, 3),
        |j AS (
        | SELECT a.label AS label, a.pos, a.mv AS me, a.n AS ne,
        |  b.mv AS mo, b.n AS no
        | FROM m a JOIN m b ON a.label = b.label AND a.pos = b.pos
        |  AND a.half = 0 AND b.half = 1)
        |SELECT label, CAST(max(ne) AS BIGINT) AS n_even,
        | CAST(max(no) AS BIGINT) AS n_odd,
        | round(sum(me * mo) / (sqrt(sum(me * me)) * sqrt(sum(mo * mo))), 6)
        |   AS drift_cosine
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q221_name_similarity" ->
      """WITH p AS (
        | SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk
        | FROM part),
        |bn AS (SELECT blk, count(*) AS block_n FROM p GROUP BY 1),
        |kp AS (
        | SELECT p_partkey, p_name, blk FROM (
        |  SELECT p.*, row_number()
        |    OVER (PARTITION BY blk ORDER BY p_partkey) AS rn
        |  FROM p) WHERE rn <= 128),
        |pr AS (
        | SELECT a.blk,
        |  jaro_winkler_similarity(a.p_name, b.p_name) AS sim
        | FROM kp a JOIN kp b ON a.blk = b.blk AND a.p_partkey < b.p_partkey)
        |SELECT pr.blk, bn.block_n, count(*) AS n_pairs,
        | CAST(sum(CASE WHEN sim = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_identical,
        | round(avg(sim), 6) AS mean_sim,
        | round(max(sim), 6) AS max_sim
        |FROM pr JOIN bn ON pr.blk = bn.blk
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q222_blocking_suppliers" ->
      """WITH pso AS (
        | SELECT l_orderkey, l_suppkey, max(l_shipdate) AS smax
        | FROM lineitem GROUP BY 1, 2),
        |f0 AS (
        | SELECT l_orderkey, l_suppkey, smax,
        |  max(smax) OVER (PARTITION BY l_orderkey) AS omax,
        |  count(*) OVER (PARTITION BY l_orderkey) AS nsup
        | FROM pso),
        |f AS (
        | SELECT l_suppkey, smax, omax, nsup,
        |  sum(CASE WHEN smax = omax THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY l_orderkey) AS nmax
        | FROM f0),
        |b AS (
        | SELECT l_suppkey, count(*) AS n_blocked
        | FROM f WHERE nsup >= 2 AND nmax = 1 AND smax = omax
        | GROUP BY 1)
        |SELECT s_suppkey, s_name, n_blocked
        |FROM b JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY n_blocked DESC, s_suppkey LIMIT 20""".stripMargin,
    "q223_dim_discrimination" ->
      """WITH e AS (
        | SELECT label, CAST(i AS INTEGER) AS dim,
        |  CAST(embedding[i] AS DOUBLE) AS v
        | FROM embeddings,
        |  unnest(generate_series(1, len(embedding))) AS t(i)),
        |pl AS (
        | SELECT dim, label, CAST(count(*) AS DOUBLE) AS n, sum(v) AS s,
        |  sum(v * v) AS ss
        | FROM e GROUP BY 1, 2),
        |g AS (
        | SELECT dim, sum(n) AS nn, sum(s) AS stot, sum(ss) AS sstot,
        |  sum(s * s / n) AS grp
        | FROM pl GROUP BY 1)
        |SELECT dim,
        | round((grp - stot * stot / nn) / (sstot - stot * stot / nn), 6)
        |   AS eta2
        |FROM g ORDER BY dim""".stripMargin,
    "q224_idle_rich" ->
      """WITH cust AS (
        | SELECT c_custkey, c_mktsegment,
        |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
        | FROM customer WHERE c_acctbal > 0),
        |seg AS (
        | SELECT c_mktsegment, CAST(sum(bal_cents) AS BIGINT) AS seg_cents,
        |  count(*) AS seg_n
        | FROM cust GROUP BY 1),
        |mx AS (
        | SELECT max(o_orderdate) - INTERVAL 1 YEAR AS cut FROM orders),
        |idle AS (
        | SELECT c.* FROM cust c, mx
        | WHERE NOT EXISTS
        |   (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= mx.cut))
        |SELECT c_mktsegment, count(*) AS n_customers,
        | round(CAST(sum(bal_cents) AS BIGINT) / 100.0, 2) AS total_balance
        |FROM idle JOIN seg USING (c_mktsegment)
        |WHERE bal_cents * seg_n > seg_cents
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q225_event_debounce" ->
      """WITH x AS (
        | SELECT event_type, ts,
        |  lag(ts) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS prev
        | FROM events),
        |f AS (
        | SELECT event_type,
        |  CASE WHEN prev IS NULL
        |    OR epoch_us(ts) - epoch_us(prev) >= 300000000
        |   THEN 1 ELSE 0 END AS kept
        | FROM x)
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(kept) AS BIGINT) AS n_kept,
        | round(1.0 - CAST(sum(kept) AS DOUBLE) / count(*), 6) AS drop_rate
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // streaming twin of q225 — identical batch-equivalent semantics
    "q242_stream_debounce" ->
      """WITH x AS (
        | SELECT event_type, ts,
        |  lag(ts) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS prev
        | FROM events),
        |f AS (
        | SELECT event_type,
        |  CASE WHEN prev IS NULL
        |    OR epoch_us(ts) - epoch_us(prev) >= 300000000
        |   THEN 1 ELSE 0 END AS kept
        | FROM x)
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(kept) AS BIGINT) AS n_kept,
        | round(1.0 - CAST(sum(kept) AS DOUBLE) / count(*), 6) AS drop_rate
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q226_partition_balance" ->
      """WITH b AS (
        | SELECT CAST(l_orderkey % 32 AS INTEGER) AS bucket,
        |  count(*) AS n_rows
        | FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM b)
        |SELECT bucket, n_rows,
        | round(CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        | round((CAST(n_rows AS DOUBLE) - CAST(total AS DOUBLE) / 32.0) *
        |   (CAST(n_rows AS DOUBLE) - CAST(total AS DOUBLE) / 32.0) /
        |  (CAST(total AS DOUBLE) / 32.0), 6) AS chi2_contrib
        |FROM b, t ORDER BY bucket""".stripMargin,
    "q227_realized_discount" ->
      """WITH j AS (
        | SELECT p_brand, l_extendedprice, l_quantity,
        |  CAST(round(p_retailprice * 100, 0) AS BIGINT) AS retail_cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |g AS (
        | SELECT p_brand, count(*) AS n_items,
        |  CAST(round(sum(l_extendedprice) * 100, 0) AS BIGINT) AS rev_cents,
        |  CAST(sum(CAST(l_quantity AS BIGINT) * retail_cents) AS BIGINT)
        |    AS retail_value_cents
        | FROM j GROUP BY 1)
        |SELECT p_brand, n_items, round(rev_cents / 100.0, 2) AS revenue,
        | round(retail_value_cents / 100.0, 2) AS retail_value,
        | round(CAST(rev_cents AS DOUBLE) /
        |   CAST(retail_value_cents AS DOUBLE), 6) AS realized_ratio
        |FROM g ORDER BY p_brand""".stripMargin,
    "q228_median3_smoothing" ->
      """WITH daily AS (
        | SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) // 100
        |    AS dollars
        | FROM orders GROUP BY 1),
        |x AS (
        | SELECT day, dollars,
        |  lag(dollars) OVER (ORDER BY day) AS prev,
        |  lead(dollars) OVER (ORDER BY day) AS nxt
        | FROM daily),
        |m AS (
        | SELECT day, dollars,
        |  greatest(least(prev, dollars),
        |   least(greatest(prev, dollars), nxt)) AS smooth
        | FROM x WHERE prev IS NOT NULL AND nxt IS NOT NULL)
        |SELECT day, dollars, smooth,
        | CAST(abs(dollars - smooth) * 10 > smooth AS INTEGER) AS is_spike
        |FROM m ORDER BY day""".stripMargin,
    "q229_priority_mix" ->
      """WITH cells AS (
        | SELECT CAST(year(o_orderdate) * 4 + quarter(o_orderdate) - 1
        |   AS INTEGER) AS qidx, o_orderpriority AS priority,
        |  count(*) AS n
        | FROM orders GROUP BY 1, 2),
        |t AS (SELECT qidx, CAST(sum(n) AS BIGINT) AS qn
        |  FROM cells GROUP BY 1),
        |s AS (
        | SELECT qidx, priority, n,
        |  round(CAST(n AS DOUBLE) / CAST(qn AS DOUBLE), 6) AS share
        | FROM cells JOIN t USING (qidx))
        |SELECT qidx, priority, n, share,
        | round(share - lag(share) OVER (PARTITION BY priority
        |   ORDER BY qidx), 6) AS delta
        |FROM s ORDER BY qidx, priority""".stripMargin,
    "q230_supplier_consistency" ->
      """WITH d AS (
        | SELECT l_suppkey,
        |  CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS d
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (
        | SELECT l_suppkey, count(*) AS n, CAST(sum(d) AS BIGINT) AS s,
        |  CAST(sum(d * d) AS BIGINT) AS ss
        | FROM d GROUP BY 1)
        |SELECT l_suppkey AS s_suppkey, n AS n_lineitems,
        | round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_delay,
        | round(sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) -
        |   CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) /
        |  (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6) AS std_delay
        |FROM g WHERE n >= 2 ORDER BY s_suppkey""".stripMargin,
    "q231_price_spread" ->
      """WITH sp AS (
        | SELECT l_orderkey,
        |  CAST(round(max(l_extendedprice) * 100, 0) AS BIGINT) -
        |  CAST(round(min(l_extendedprice) * 100, 0) AS BIGINT)
        |    AS spread_cents
        | FROM lineitem GROUP BY 1)
        |SELECT spread_cents // 500000 AS band, count(*) AS n_orders
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q232_activity_bitmask" ->
      """WITH m AS (
        | SELECT user_id,
        |  bit_or(CAST(1 AS BIGINT) <<
        |   CAST(date_diff('day', TIMESTAMP '2024-01-01',
        |     date_trunc('day', ts)) AS INTEGER)) AS mask
        | FROM events
        | WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        | GROUP BY 1)
        |SELECT CAST(bit_count(mask) AS INTEGER) AS n_active_days,
        | count(*) AS n_users
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q233_assortativity" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |und AS (
        | SELECT doc_a AS src, doc_b AS dst FROM pairs
        | UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
        |j AS (
        | SELECT dx.deg AS dx, dy.deg AS dy
        | FROM und JOIN deg dx ON und.src = dx.node
        |  JOIN deg dy ON und.dst = dy.node),
        |g AS (
        | SELECT count(*) AS m, CAST(sum(dx) AS BIGINT) AS sx,
        |  CAST(sum(dy) AS BIGINT) AS sy,
        |  CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |  CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |  CAST(sum(dy * dy) AS BIGINT) AS syy
        | FROM j),
        |n AS (SELECT count(*) AS n_nodes FROM deg)
        |SELECT n_nodes, m // 2 AS n_edges,
        | round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) -
        |    CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS assortativity
        |FROM g, n""".stripMargin,
    "q234_trade_matrix" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        | count(*) AS n_items,
        | round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q235_value_trajectory" ->
      """WITH seqd AS (
        | SELECT o_custkey,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS seq
        | FROM orders),
        |pc AS (
        | SELECT o_custkey, count(*) AS n, CAST(sum(seq) AS BIGINT) AS sx,
        |  CAST(sum(cents) AS BIGINT) AS sy,
        |  CAST(sum(seq * cents) AS BIGINT) AS sxy
        | FROM seqd GROUP BY 1),
        |f AS (
        | SELECT o_custkey, n * sxy - sx * sy AS num
        | FROM pc WHERE n >= 2)
        |SELECT c_mktsegment, count(*) AS n_customers,
        | CAST(sum(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_rising,
        | CAST(sum(CASE WHEN num = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_flat,
        | CAST(sum(CASE WHEN num < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_falling,
        | round(CAST(sum(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
        |   count(*), 6) AS rising_share
        |FROM f JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q236_asof_nearest" ->
      """WITH clicks AS (
        | SELECT user_id, ts, event_id, value FROM events
        | WHERE event_type = 'click'),
        |purchases AS (
        | SELECT user_id, ts, value AS purchase_value FROM events
        | WHERE event_type = 'purchase'),
        |b AS (
        | SELECT c.event_id, p.ts AS bts, p.purchase_value AS bval
        | FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts),
        |f AS (
        | SELECT c.event_id, p.ts AS fts, p.purchase_value AS fval
        | FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts < p.ts),
        |n AS (
        | SELECT c.event_id, c.user_id, c.ts,
        |  CASE WHEN fts IS NULL THEN bts
        |   WHEN bts IS NULL THEN fts
        |   WHEN epoch_us(c.ts) - epoch_us(bts) <=
        |     epoch_us(fts) - epoch_us(c.ts) THEN bts ELSE fts END
        |    AS purchase_ts,
        |  CASE WHEN fts IS NULL THEN bval
        |   WHEN bts IS NULL THEN fval
        |   WHEN epoch_us(c.ts) - epoch_us(bts) <=
        |     epoch_us(fts) - epoch_us(c.ts) THEN bval ELSE fval END
        |    AS purchase_value
        | FROM clicks c
        |  LEFT JOIN b ON c.event_id = b.event_id
        |  LEFT JOIN f ON c.event_id = f.event_id)
        |SELECT event_id, user_id, ts, purchase_ts, purchase_value,
        | abs(epoch_us(purchase_ts) - epoch_us(ts)) // 60000000
        |   AS minutes_abs,
        | CASE WHEN purchase_ts IS NULL THEN NULL
        |  WHEN purchase_ts < ts THEN -1 WHEN purchase_ts = ts THEN 0
        |  ELSE 1 END AS direction
        |FROM n ORDER BY event_id""".stripMargin,
    "q237_knn_confusion" ->
      """WITH sub AS (
        | SELECT vec_id, embedding, label FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings
        | WHERE vec_id < 256),
        |sc AS (
        | SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id,
        |  c.label AS nlabel,
        |  round(list_inner_product(c.embedding, q.embedding) /
        |   (sqrt(list_inner_product(c.embedding, c.embedding)) *
        |    sqrt(list_inner_product(q.embedding, q.embedding))), 4) AS c
        | FROM sub q JOIN sub c ON c.vec_id <> q.vec_id),
        |r AS (
        | SELECT q_label, nlabel,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id)
        |    AS rk
        | FROM sc)
        |SELECT q_label AS label, nlabel AS predicted, count(*) AS n
        |FROM r WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q238_heldout_perplexity" ->
      """WITH sp AS (
        | SELECT doc_id, lang, text,
        |  CASE WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 80
        |    THEN 'train'
        |   WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 90 THEN 'val'
        |   ELSE 'test' END AS split
        | FROM documents),
        |tt AS (SELECT doc_id, split, lang, string_split(text, ' ') AS toks
        |  FROM sp),
        |bg0 AS (
        | SELECT doc_id, split, lang, unnest(list_transform(
        |   generate_series(1, len(toks) - 1),
        |   i -> toks[i] || ' ' || toks[i+1])) AS bg
        | FROM tt WHERE len(toks) >= 2),
        |trainlm AS (
        | SELECT bg, CAST(count(*) AS BIGINT) AS bf FROM bg0
        | WHERE split = 'train' GROUP BY 1),
        |st AS (SELECT CAST(sum(bf) AS BIGINT) AS tot, count(*) AS vsz
        |  FROM trainlm),
        |vb AS (
        | SELECT doc_id, lang, bg, count(*) AS cnt FROM bg0
        | WHERE split = 'val' GROUP BY 1, 2, 3),
        |sc AS (
        | SELECT lang, doc_id, cnt, bf,
        |  -CAST(cnt AS DOUBLE) *
        |   log2(CAST(COALESCE(bf, 0) + 1 AS DOUBLE) /
        |    CAST(tot + vsz AS DOUBLE)) AS bits
        | FROM vb LEFT JOIN trainlm USING (bg), st)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs,
        | CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        | round(sum(bits) / CAST(sum(cnt) AS DOUBLE), 6) AS avg_bits,
        | round(CAST(sum(CASE WHEN bf IS NULL THEN cnt ELSE 0 END)
        |   AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS oov_rate
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q239_sampling_calibration" ->
      """WITH o AS (
        | SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |  ((o_orderkey & 2147483647) * 2654435761) % 1000 AS h
        | FROM orders),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS full_cents,
        |  count(*) AS full_n FROM o),
        |pr AS (
        | SELECT CAST(100 AS INTEGER) AS rate_permille, count(*) AS n_sampled,
        |  CAST(sum(cents) AS BIGINT) AS cents_sampled FROM o WHERE h < 100
        | UNION ALL
        | SELECT CAST(250 AS INTEGER), count(*),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE h < 250
        | UNION ALL
        | SELECT CAST(500 AS INTEGER), count(*),
        |  CAST(sum(cents) AS BIGINT) FROM o WHERE h < 500)
        |SELECT rate_permille, n_sampled,
        | round(CAST(n_sampled AS DOUBLE) * 1000.0 /
        |   (CAST(rate_permille AS DOUBLE) * CAST(full_n AS DOUBLE)), 6)
        |   AS count_calibration,
        | round(CAST(cents_sampled AS DOUBLE) * 1000.0 /
        |   (CAST(rate_permille AS DOUBLE) * CAST(full_cents AS DOUBLE)), 6)
        |   AS revenue_calibration
        |FROM pr, t ORDER BY rate_permille""".stripMargin,
    "q240_heaps_curve" ->
      s"""WITH b AS (SELECT max(doc_id) + 1 AS nid FROM documents),
        |s AS (
        |$shinglesSql),
        |fs AS (
        | SELECT tok, min(doc_id) AS first_doc FROM (
        |  SELECT doc_id, unnest(sh) AS tok FROM s) GROUP BY 1),
        |pd AS (
        | SELECT CAST((first_doc * 10) // nid AS INTEGER) AS decile,
        |  count(*) AS vocab_added
        | FROM fs, b GROUP BY 1)
        |SELECT decile, vocab_added,
        | CAST(sum(vocab_added) OVER (ORDER BY decile
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_vocab
        |FROM pd ORDER BY decile""".stripMargin,
    "q241_knn_prf" ->
      """WITH sub AS (
        | SELECT vec_id, embedding, label FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings
        | WHERE vec_id < 256),
        |sc AS (
        | SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id,
        |  c.label AS nlabel,
        |  round(list_inner_product(c.embedding, q.embedding) /
        |   (sqrt(list_inner_product(c.embedding, c.embedding)) *
        |    sqrt(list_inner_product(q.embedding, q.embedding))), 4) AS c
        | FROM sub q JOIN sub c ON c.vec_id <> q.vec_id),
        |r AS (
        | SELECT q_label, nlabel,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id)
        |    AS rk
        | FROM sc),
        |cm AS (SELECT q_label AS label, nlabel AS predicted, count(*) AS n
        |  FROM r WHERE rk = 1 GROUP BY 1, 2),
        |bt AS (SELECT label, CAST(sum(n) AS BIGINT) AS support
        |  FROM cm GROUP BY 1),
        |bp AS (SELECT predicted AS plabel, CAST(sum(n) AS BIGINT) AS pred_n
        |  FROM cm GROUP BY 1),
        |dg AS (SELECT label, n AS tp0 FROM cm WHERE label = predicted)
        |SELECT bt.label, support, CAST(COALESCE(tp0, 0) AS BIGINT) AS tp,
        | CASE WHEN pred_n IS NULL THEN NULL
        |  ELSE round(CAST(COALESCE(tp0, 0) AS DOUBLE) / pred_n, 6) END
        |   AS prec,
        | round(CAST(COALESCE(tp0, 0) AS DOUBLE) / support, 6) AS rec,
        | CASE WHEN pred_n IS NULL THEN NULL
        |  WHEN COALESCE(tp0, 0) = 0 THEN 0.0
        |  ELSE round(2.0 * (CAST(tp0 AS DOUBLE) / pred_n) *
        |    (CAST(tp0 AS DOUBLE) / support) /
        |   (CAST(tp0 AS DOUBLE) / pred_n + CAST(tp0 AS DOUBLE) / support),
        |   6) END AS f1
        |FROM bt LEFT JOIN dg USING (label)
        | LEFT JOIN bp ON bt.label = bp.plabel
        |ORDER BY bt.label""".stripMargin,
    "q243_revenue_lorenz" ->
      """WITH pc AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n_cust,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM pc),
        |r AS (
        | SELECT cents,
        |  CAST(row_number() OVER (ORDER BY cents DESC, o_custkey)
        |    AS BIGINT) AS rk
        | FROM pc),
        |d AS (
        | SELECT CAST(((rk - 1) * 10) // n_cust AS INTEGER) AS decile,
        |  count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS dec_cents,
        |  max(total_cents) AS tc
        | FROM r, t GROUP BY 1)
        |SELECT decile, n_customers,
        | round(CAST(dec_cents AS DOUBLE) / CAST(tc AS DOUBLE), 6) AS share,
        | round(CAST(sum(dec_cents) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |   CAST(tc AS DOUBLE), 6) AS cum_share
        |FROM d ORDER BY decile""".stripMargin,
    "q244_peak_hours" ->
      """WITH bh AS (
        | SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tn
        |  FROM bh GROUP BY 1),
        |r AS (
        | SELECT event_type, hr, n,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY n DESC, hr) AS rk
        | FROM bh)
        |SELECT event_type, hr AS peak_hour, n AS n_events,
        | round(CAST(n AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS share
        |FROM r JOIN t USING (event_type)
        |WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "q245_sla_attainment" ->
      """WITH ls AS (
        | SELECT l_orderkey, max(l_shipdate) AS last_ship
        | FROM lineitem GROUP BY 1),
        |j AS (
        | SELECT o_orderpriority AS priority,
        |  CAST(date_diff('day', o_orderdate, last_ship) AS INTEGER) AS days
        | FROM orders JOIN ls ON o_orderkey = l_orderkey)
        |SELECT priority, count(*) AS n_orders,
        | round(CAST(sum(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS sla_30,
        | round(CAST(sum(CASE WHEN days <= 60 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS sla_60,
        | round(CAST(sum(CASE WHEN days <= 90 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS sla_90
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q246_burstiness" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events),
        |pw AS (
        | SELECT a.user_id, a.event_id, count(*) AS in_window
        | FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.us >= a.us AND b.us < a.us + 3600000000
        | GROUP BY 1, 2),
        |pu AS (
        | SELECT user_id, CAST(max(in_window) AS BIGINT) AS peak_burst
        | FROM pw GROUP BY 1)
        |SELECT peak_burst, count(*) AS n_users
        |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin,
    "q247_format_mix" ->
      """WITH a AS (
        | SELECT source,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
        |   WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |  octet_length(encode(text)) AS nb
        | FROM documents),
        |cells AS (
        | SELECT source, format, count(*) AS n_assets,
        |  CAST(sum(nb) AS BIGINT) AS total_bytes
        | FROM a GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(n_assets) AS BIGINT) AS src_n
        |  FROM cells GROUP BY 1)
        |SELECT source, format, n_assets, total_bytes,
        | round(CAST(n_assets AS DOUBLE) / CAST(src_n AS DOUBLE), 6)
        |   AS share
        |FROM cells JOIN t USING (source) ORDER BY 1, 2""".stripMargin,
    "q248_shard_plan" ->
      """WITH a AS (
        | SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb
        | FROM documents),
        |r AS (
        | SELECT nb, row_number() OVER (ORDER BY nb DESC, doc_id) AS rk
        | FROM a),
        |ps AS (
        | SELECT CAST((rk - 1) % 8 AS INTEGER) AS shard,
        |  count(*) AS n_assets, CAST(sum(nb) AS BIGINT) AS shard_bytes
        | FROM r GROUP BY 1),
        |t AS (SELECT CAST(sum(shard_bytes) AS BIGINT) AS tb FROM ps)
        |SELECT shard, n_assets, shard_bytes,
        | round(CAST(shard_bytes AS DOUBLE) * 8.0 / CAST(tb AS DOUBLE), 6)
        |   AS balance_ratio
        |FROM ps, t ORDER BY shard""".stripMargin,
    "q249_purge_estimate" ->
      """WITH a AS (
        | SELECT source, CAST(octet_length(encode(text)) AS BIGINT) AS nb
        | FROM documents)
        |SELECT source, count(*) AS n_assets,
        | CAST(sum(CASE WHEN nb < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_purged,
        | CAST(sum(CASE WHEN nb < 100 THEN nb ELSE 0 END) AS BIGINT)
        |   AS bytes_reclaimed,
        | CAST(sum(nb) AS BIGINT) AS total_bytes,
        | round(CAST(sum(CASE WHEN nb < 100 THEN nb ELSE 0 END) AS DOUBLE) /
        |   CAST(sum(nb) AS DOUBLE), 6) AS bytes_share
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "q250_dedup_funnel" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |$reachSql,
        |comp AS (
        | SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        | FROM reach GROUP BY src),
        |kl AS (
        | SELECT doc_id FROM documents
        | WHERE doc_id NOT IN
        |   (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)),
        |d AS (
        | SELECT doc_id, source, text,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
        |    '', 'g'), ' +', ' ', 'g')) AS norm
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | count(DISTINCT text) AS n_exact,
        | count(DISTINCT norm) AS n_norm,
        | CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_neardup_kept
        |FROM d LEFT JOIN kl k USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q251_label_balance" ->
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        |g AS (
        | SELECT CAST(sum(n) AS BIGINT) AS n_vecs, count(*) AS n_labels,
        |  sum(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE))) AS snl
        | FROM c)
        |SELECT n_vecs, n_labels,
        | round(log2(CAST(n_vecs AS DOUBLE)) - snl / CAST(n_vecs AS DOUBLE),
        |   6) AS entropy_bits,
        | round(pow(2.0, log2(CAST(n_vecs AS DOUBLE)) -
        |   snl / CAST(n_vecs AS DOUBLE)), 6) AS effective_classes
        |FROM g""".stripMargin,
    "q252_global_percentiles" ->
      """WITH r AS (
        | SELECT l_extendedprice AS v,
        |  row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
        |    l_linenumber) AS rk,
        |  count(*) OVER () AS n
        | FROM lineitem)
        |SELECT CASE WHEN rk = (50 * n + 99) // 100 THEN 'p50'
        |  WHEN rk = (90 * n + 99) // 100 THEN 'p90'
        |  ELSE 'p99' END AS pctl,
        | CAST(rk AS BIGINT) AS rank, v AS value
        |FROM r
        |WHERE rk = (50 * n + 99) // 100 OR rk = (90 * n + 99) // 100
        |   OR rk = (99 * n + 99) // 100
        |ORDER BY pctl""".stripMargin,
    "q253_monthly_seasonality" ->
      """WITH monthly AS (
        | SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1, 2),
        |pm AS (
        | SELECT m, count(*) AS n_months,
        |  CAST(sum(cents) AS BIGINT) AS m_cents
        | FROM monthly GROUP BY 1),
        |t AS (SELECT CAST(sum(n_months) AS BIGINT) AS all_months,
        |  CAST(sum(m_cents) AS BIGINT) AS all_cents FROM pm)
        |SELECT CAST(m AS INTEGER) AS month_of_year, n_months,
        | round(m_cents / 100.0 / CAST(n_months AS DOUBLE), 6)
        |   AS mean_monthly_revenue,
        | round((CAST(m_cents AS DOUBLE) * CAST(all_months AS DOUBLE)) /
        |   (CAST(n_months AS DOUBLE) * CAST(all_cents AS DOUBLE)), 6)
        |   AS seasonal_index
        |FROM pm, t ORDER BY month_of_year""".stripMargin,
    "q254_dup_by_length" ->
      """WITH occ AS (SELECT text, count(*) AS occ FROM documents
        |  GROUP BY 1),
        |d AS (
        | SELECT n_chars // 500 AS band,
        |  CASE WHEN occ > 1 THEN 1 ELSE 0 END AS dup
        | FROM documents JOIN occ USING (text))
        |SELECT band, count(*) AS n_docs,
        | CAST(sum(dup) AS BIGINT) AS n_duplicated,
        | round(CAST(sum(dup) AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q255_acquisition_mix" ->
      """WITH c AS (
        | SELECT o_orderdate, o_totalprice,
        |  CASE WHEN row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) = 1 THEN 1 ELSE 0 END
        |    AS is_new,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        | FROM orders)
        |SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        |   AS month,
        | CAST(sum(is_new) AS BIGINT) AS n_new,
        | CAST(sum(1 - is_new) AS BIGINT) AS n_returning,
        | round(CAST(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
        |   AS BIGINT) / 100.0, 2) AS new_revenue,
        | round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS total_revenue,
        | round(CAST(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
        |    AS DOUBLE) / CAST(sum(cents) AS DOUBLE), 6) AS new_share
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q256_return_rates" ->
      """WITH bb AS (
        | SELECT p_brand, count(*) AS n_items,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returned
        | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |t AS (SELECT CAST(sum(n_items) AS BIGINT) AS tn,
        |  CAST(sum(n_returned) AS BIGINT) AS tr FROM bb)
        |SELECT p_brand, n_items, n_returned,
        | round(CAST(n_returned AS DOUBLE) / CAST(n_items AS DOUBLE), 6)
        |   AS return_rate,
        | round(CAST(n_returned AS DOUBLE) / CAST(n_items AS DOUBLE) -
        |   CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS vs_global
        |FROM bb, t ORDER BY p_brand""".stripMargin,
    "q257_size_type_matrix" ->
      """WITH p AS (
        | SELECT CAST(p_size // 10 AS INTEGER) AS size_band,
        |  string_split(p_type, ' ')[1] AS type_head,
        |  CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents
        | FROM part)
        |SELECT size_band, type_head, count(*) AS n_parts,
        | round(CAST(sum(cents) AS DOUBLE) /
        |   (CAST(count(*) AS DOUBLE) * 100.0), 6) AS mean_retail
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q258_prop_value_corr" ->
      """WITH e AS (
        | SELECT event_type,
        |  CAST(CAST(props ->> '$.k' AS INTEGER) AS DOUBLE) AS x,
        |  value AS y
        | FROM events WHERE props ->> '$.k' IS NOT NULL),
        |s AS (
        | SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |  sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
        |  sum(y * y) AS syy
        | FROM e GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        | round((n * sxy - sx * sy) /
        |  sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |   AS corr_k_value
        |FROM s ORDER BY event_type""".stripMargin,
    "q259_cumulative_reach" ->
      """WITH fd AS (
        | SELECT user_id,
        |  CAST(min(date_trunc('hour', ts)) AS TIMESTAMP) AS hour
        | FROM events GROUP BY 1),
        |d AS (SELECT hour, count(*) AS new_users FROM fd GROUP BY 1)
        |SELECT hour, new_users,
        | CAST(sum(new_users) OVER (ORDER BY hour
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_users
        |FROM d ORDER BY hour""".stripMargin,
    "q260_decayed_engagement" ->
      """WITH h AS (SELECT max(epoch_us(ts)) AS h FROM events)
        |SELECT event_type, count(*) AS n_events,
        | round(sum(value * pow(0.5,
        |   (CAST(h - epoch_us(ts) AS DOUBLE) / 86400000000.0) / 30.0)), 6)
        |   AS decayed_value,
        | round(sum(value), 2) AS raw_value
        |FROM events, h GROUP BY 1 ORDER BY 1""".stripMargin,
    "q261_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS sz FROM tu GROUP BY 1),
        |i AS (
        | SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_both
        | FROM tu a JOIN tu b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type
        | GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both,
        | round(CAST(n_both AS DOUBLE) /
        |   CAST(za.sz + zb.sz - n_both AS DOUBLE), 6) AS jaccard
        |FROM i JOIN sz za ON i.type_a = za.event_type
        | JOIN sz zb ON i.type_b = zb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "q262_top_decile_mix" ->
      """WITH po AS (
        | SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS ocents
        | FROM orders),
        |n AS (SELECT count(*) AS n_orders FROM po),
        |topo AS (
        | SELECT o_orderkey FROM (
        |  SELECT o_orderkey,
        |   CAST(row_number() OVER (ORDER BY ocents DESC, o_orderkey)
        |     AS BIGINT) AS rk
        |  FROM po), n
        | WHERE rk * 10 <= n_orders),
        |li AS (
        | SELECT l_orderkey, p_brand,
        |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |bb AS (
        | SELECT p_brand, CAST(sum(cents) AS BIGINT) AS all_cents,
        |  CAST(sum(CASE WHEN t.o_orderkey IS NOT NULL THEN cents
        |    ELSE 0 END) AS BIGINT) AS top_cents
        | FROM li LEFT JOIN topo t ON li.l_orderkey = t.o_orderkey
        | GROUP BY 1),
        |tt AS (SELECT CAST(sum(all_cents) AS BIGINT) AS ta,
        |  CAST(sum(top_cents) AS BIGINT) AS tt FROM bb)
        |SELECT p_brand,
        | round(CAST(all_cents AS DOUBLE) / CAST(ta AS DOUBLE), 6)
        |   AS overall_share,
        | round(CAST(top_cents AS DOUBLE) / CAST(tt AS DOUBLE), 6)
        |   AS top_decile_share,
        | round(CAST(top_cents AS DOUBLE) / CAST(tt AS DOUBLE) -
        |   CAST(all_cents AS DOUBLE) / CAST(ta AS DOUBLE), 6)
        |   AS over_index
        |FROM bb, tt ORDER BY p_brand""".stripMargin,
    "q263_pct_of_parent" ->
      """WITH bn AS (
        | SELECT r_name AS region, n_name AS nation,
        |  CAST(round(sum(l_extendedprice) * 100, 0) AS BIGINT) AS cents
        | FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2),
        |x AS (
        | SELECT region, nation, cents,
        |  CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT)
        |    AS region_cents,
        |  CAST(sum(cents) OVER () AS BIGINT) AS total_cents
        | FROM bn)
        |SELECT region, nation, round(cents / 100.0, 2) AS revenue,
        | round(CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE), 6)
        |   AS pct_of_region,
        | round(CAST(region_cents AS DOUBLE) / CAST(total_cents AS DOUBLE),
        |   6) AS region_pct_of_total
        |FROM x ORDER BY region, nation""".stripMargin,
    "q264_revenue_drawdown" ->
      """WITH daily AS (
        | SELECT CAST(year(o_orderdate) * 4 + quarter(o_orderdate) - 1
        |    AS INTEGER) AS qidx,
        |  date_trunc('day', o_orderdate) AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1, 2),
        |x AS (
        | SELECT qidx,
        |  CAST(max(cents) OVER (PARTITION BY qidx ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cents
        |    AS DOUBLE) /
        |  CAST(max(cents) OVER (PARTITION BY qidx ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS dd
        | FROM daily)
        |SELECT qidx, count(*) AS n_days, round(max(dd), 6) AS max_drawdown
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "q265_brand_corr" ->
      """WITH monthly AS (
        | SELECT p_brand, date_trunc('month', o_orderdate) AS month,
        |  CAST(round(sum(l_extendedprice) * 100, 0) AS BIGINT) // 100
        |    AS dollars
        | FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        | GROUP BY 1, 2),
        |p AS (
        | SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |  a.dollars AS x, b.dollars AS y
        | FROM monthly a JOIN monthly b ON a.month = b.month
        |  AND a.p_brand < b.p_brand),
        |s AS (
        | SELECT brand_a, brand_b, count(*) AS n_months,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(y * y) AS BIGINT) AS syy
        | FROM p GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_months,
        | round((CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  sqrt((CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   (CAST(n_months AS DOUBLE) * CAST(syy AS DOUBLE) -
        |    CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
        |FROM s ORDER BY brand_a, brand_b""".stripMargin,
    "q266_scrub_report" ->
      """WITH d AS (
        | SELECT source, len(regexp_extract_all(text,
        |  '(?:https?://\S+|\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b|\b\Qcustomer\E\b|\b\Qvector\E\b)'))
        |  AS n
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_flagged,
        | CAST(sum(n) AS BIGINT) AS total_spans,
        | round(CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
        |   count(*), 6) AS flagged_rate
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q267_tokenizer_fertility" ->
      """SELECT lang,
        | CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
        |   AS BIGINT) AS ws_tokens,
        | CAST(sum(len(regexp_extract_all(text,
        |   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT)
        |   AS bpeish_tokens,
        | count(*) AS n_docs,
        | round(CAST(sum(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS DOUBLE) /
        |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
        |    AS DOUBLE), 6) AS fertility
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q268_join_skew" ->
      """WITH fans AS (
        | SELECT l_orderkey, count(*) AS fan FROM lineitem GROUP BY 1),
        |st AS (SELECT count(*) AS n_keys, CAST(sum(fan) AS BIGINT)
        |   AS n_rows, CAST(max(fan) AS BIGINT) AS max_fan FROM fans)
        |SELECT fan, count(*) AS n_keys_at_fan,
        | round(CAST(max_fan AS DOUBLE) * CAST(n_keys AS DOUBLE) /
        |   CAST(n_rows AS DOUBLE), 6) AS skew_factor
        |FROM fans, st GROUP BY fan, max_fan, n_keys, n_rows
        |ORDER BY fan""".stripMargin,
    "q269_score_calibration" ->
      """WITH sc AS (
        | SELECT doc_id, source,
        |  0.4 * least(len(string_split(text, ' ')) / 64.0, 1.0)
        |   + 0.3 * (CAST(len(list_distinct(string_split(text, ' ')))
        |       AS DOUBLE) / len(string_split(text, ' ')))
        |   + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '',
        |       'g')) AS DOUBLE) / length(text)) AS q
        | FROM documents),
        |r AS (
        | SELECT source, q,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY q DESC, doc_id) AS BIGINT) AS rk,
        |  count(*) OVER (PARTITION BY source) AS ns
        | FROM sc)
        |SELECT source, count(*) AS n_docs,
        | round(avg(q), 6) AS mean_quality,
        | round(sum(CASE WHEN rk * 4 <= ns THEN q ELSE 0 END) /
        |   CAST(sum(CASE WHEN rk * 4 <= ns THEN 1 ELSE 0 END) AS DOUBLE),
        |   6) AS top_quartile_mean
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q270_ks_drift" ->
      """WITH c AS (
        | SELECT CAST(floor(value * 10) AS BIGINT) AS bin, event_type,
        |  count(*) AS cnt FROM events GROUP BY 1, 2),
        |pb AS (SELECT bin, sum(cnt) AS tot FROM c GROUP BY 1),
        |d AS (
        | SELECT g.bin, g.event_type, COALESCE(c.cnt, 0) AS cnt, g.tot
        | FROM (SELECT pb.bin, t.event_type, pb.tot FROM pb
        |   CROSS JOIN (SELECT DISTINCT event_type FROM c) t) g
        | LEFT JOIN c ON g.bin = c.bin AND g.event_type = c.event_type),
        |cum AS (
        | SELECT event_type,
        |  sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum_t,
        |  sum(tot) OVER (PARTITION BY event_type ORDER BY bin)
        |    AS cum_all,
        |  sum(cnt) OVER (PARTITION BY event_type) AS n_t,
        |  sum(tot) OVER (PARTITION BY event_type) AS n_all
        | FROM d)
        |SELECT event_type, CAST(max(n_t) AS BIGINT) AS n_events,
        | round(max(CASE WHEN n_all > n_t THEN
        |  abs(CAST(cum_t AS DOUBLE) / CAST(n_t AS DOUBLE) -
        |   CAST(cum_all - cum_t AS DOUBLE) /
        |   CAST(n_all - n_t AS DOUBLE)) ELSE 0.0 END), 6) AS ks_stat
        |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin,
    "q271_event_ccf" ->
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
        | FROM events GROUP BY 1, 2),
        |j AS (
        | SELECT l.lag_days, a.cnt AS a, b.cnt AS b
        | FROM daily a
        | CROSS JOIN (SELECT CAST(range AS INTEGER) AS lag_days
        |   FROM range(-3, 4)) l
        | JOIN daily b ON b.event_type = 'click'
        |  AND b.day = a.day + to_days(l.lag_days)
        | WHERE a.event_type = 'purchase'),
        |s AS (
        | SELECT lag_days, count(*) AS n_days,
        |  sum(a) AS sx, sum(b) AS sy, sum(a * b) AS sxy,
        |  sum(a * a) AS sxx, sum(b * b) AS syy
        | FROM j GROUP BY 1)
        |SELECT lag_days, n_days,
        | round(CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |  sqrt(CAST((n_days * sxx - sx * sx) *
        |   (n_days * syy - sy * sy) AS DOUBLE)), 6) AS ccf
        |FROM s ORDER BY lag_days""".stripMargin,
    "q272_entry_exit" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL OR
        |   ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |   AS new_s
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id, event_type, ts, event_id,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS sid
        | FROM flagged),
        |per AS (
        | SELECT DISTINCT user_id, sid,
        |  first_value(event_type) OVER ws AS entry_type,
        |  last_value(event_type) OVER ws AS exit_type
        | FROM sess
        | WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |tot AS (SELECT count(*) AS n_total FROM per)
        |SELECT entry_type, exit_type, count(*) AS n_sessions,
        | round(CAST(count(*) AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
        |  AS session_share
        |FROM per, tot GROUP BY entry_type, exit_type, n_total
        |ORDER BY entry_type, exit_type""".stripMargin,
    "q273_price_reconcile" ->
      """WITH lc AS (
        | SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) *
        |   (1 + l_tax) * 100, 0) AS BIGINT)) AS BIGINT) AS line_cents
        | FROM lineitem GROUP BY 1),
        |d AS (
        | SELECT o_orderstatus,
        |  COALESCE(lc.line_cents, 0) -
        |   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS diff_cents
        | FROM orders LEFT JOIN lc ON o_orderkey = l_orderkey)
        |SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(sum(CASE WHEN abs(diff_cents) > 1 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_mismatch,
        | CAST(max(abs(diff_cents)) AS BIGINT) AS max_abs_diff_cents,
        | round(avg(CAST(abs(diff_cents) AS DOUBLE)) / 100.0, 6)
        |  AS avg_abs_diff_usd
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q274_spearman" ->
      """WITH rk AS (
        | SELECT p_type,
        |  rank() OVER (PARTITION BY p_type ORDER BY p_size) +
        |   (count(*) OVER (PARTITION BY p_type, p_size) - 1) / 2.0
        |   AS rx,
        |  rank() OVER (PARTITION BY p_type ORDER BY p_retailprice) +
        |   (count(*) OVER (PARTITION BY p_type, p_retailprice) - 1) / 2.0
        |   AS ry
        | FROM part),
        |s AS (
        | SELECT p_type, CAST(count(*) AS DOUBLE) AS n,
        |  sum(rx) AS sx, sum(ry) AS sy, sum(rx * ry) AS sxy,
        |  sum(rx * rx) AS sxx, sum(ry * ry) AS syy
        | FROM rk GROUP BY 1)
        |SELECT p_type, CAST(n AS BIGINT) AS n_parts,
        | round((n * sxy - sx * sy) /
        |  sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |  AS spearman
        |FROM s
        |WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |ORDER BY p_type""".stripMargin,
    "q275_theil" ->
      """WITH pc AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM orders GROUP BY 1 HAVING cents > 0),
        |pn AS (
        | SELECT n_name, cents FROM pc
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey),
        |g AS (
        | SELECT n_name, count(*) AS n_g,
        |  CAST(sum(cents) AS BIGINT) AS s_g
        | FROM pn GROUP BY 1),
        |gl AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_all,
        |  CAST(sum(s_g) AS BIGINT) AS s_all FROM g)
        |SELECT pn.n_name, max(n_g) AS n_customers,
        | round(CAST(max(s_g) AS DOUBLE) / CAST(max(s_all) AS DOUBLE), 6)
        |  AS revenue_share,
        | round(sum((CAST(cents AS DOUBLE) /
        |    (CAST(s_g AS DOUBLE) / n_g)) *
        |   ln(CAST(cents AS DOUBLE) /
        |    (CAST(s_g AS DOUBLE) / n_g))) /
        |  CAST(max(n_g) AS DOUBLE), 6) AS theil_within,
        | round((CAST(max(s_g) AS DOUBLE) / CAST(max(s_all) AS DOUBLE)) *
        |  ln((CAST(max(s_g) AS DOUBLE) / max(n_g)) /
        |   (CAST(max(s_all) AS DOUBLE) / max(n_all))), 6)
        |  AS between_term
        |FROM pn JOIN g ON pn.n_name = g.n_name CROSS JOIN gl
        |GROUP BY pn.n_name ORDER BY pn.n_name""".stripMargin,
    "q276_activity_tail" ->
      """WITH d AS (
        | SELECT user_id, count(*) AS d FROM events GROUP BY 1)
        |SELECT count(*) AS n_users,
        | CAST(sum(CASE WHEN d >= 16 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_tail,
        | CAST(16 AS BIGINT) AS d_min,
        | round(1.0 + CAST(sum(CASE WHEN d >= 16 THEN 1 ELSE 0 END)
        |   AS DOUBLE) /
        |  sum(CASE WHEN d >= 16 THEN ln(CAST(d AS DOUBLE) / 16.0) END),
        |  6) AS hill_alpha
        |FROM d""".stripMargin,
    "q277_attribution_models" ->
      """WITH t AS (
        | SELECT event_type, value,
        |  min(CASE WHEN event_type <> 'purchase' THEN
        |   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
        |   lpad(CAST(event_id AS VARCHAR), 20, '0') || event_type END)
        |   OVER w AS ft,
        |  max(CASE WHEN event_type <> 'purchase' THEN
        |   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
        |   lpad(CAST(event_id AS VARCHAR), 20, '0') || event_type END)
        |   OVER w AS lt
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)),
        |p AS (
        | SELECT COALESCE(substr(ft, 41), 'none') AS first_ch,
        |  COALESCE(substr(lt, 41), 'none') AS last_ch, value
        | FROM t WHERE event_type = 'purchase'),
        |f AS (SELECT first_ch AS channel, count(*) AS n_first,
        |  round(sum(value), 2) AS value_first FROM p GROUP BY 1),
        |l AS (SELECT last_ch AS channel, count(*) AS n_last,
        |  round(sum(value), 2) AS value_last FROM p GROUP BY 1)
        |SELECT COALESCE(f.channel, l.channel) AS channel,
        | COALESCE(n_first, 0) AS n_first,
        | COALESCE(value_first, 0.0) AS value_first,
        | COALESCE(n_last, 0) AS n_last,
        | COALESCE(value_last, 0.0) AS value_last
        |FROM f FULL JOIN l ON f.channel = l.channel
        |ORDER BY 1""".stripMargin,
    "q278_centroid_matrix" ->
      """WITH e AS (
        | SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        | FROM embeddings,
        |  unnest(generate_series(1, len(embedding))) AS t(i)),
        |m AS (
        | SELECT label, pos, avg(v) AS m FROM e GROUP BY 1, 2)
        |SELECT a.label AS label_a, b.label AS label_b,
        | round(sum(a.m * b.m) /
        |  (sqrt(sum(a.m * a.m)) * sqrt(sum(b.m * b.m))), 6)
        |  AS centroid_cos
        |FROM m a JOIN m b ON a.pos = b.pos AND a.label < b.label
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q279_stylometry" ->
      """WITH tok AS (
        | SELECT source, unnest(string_split(lower(text), ' ')) AS w
        | FROM documents),
        |sw AS (SELECT source, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |bs AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens
        |  FROM sw GROUP BY 1),
        |bw AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS gcnt
        |  FROM sw GROUP BY 1),
        |topk AS (SELECT w, gcnt FROM bw ORDER BY gcnt DESC, w LIMIT 10),
        |na AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_all FROM bs),
        |grid AS (
        | SELECT bs.source, bs.n_tokens, topk.w, topk.gcnt,
        |  COALESCE(sw.cnt, 0) AS cnt
        | FROM bs CROSS JOIN topk
        | LEFT JOIN sw ON sw.source = bs.source AND sw.w = topk.w)
        |SELECT source, max(n_tokens) AS n_tokens,
        | round(sum(abs(CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) -
        |  CAST(gcnt AS DOUBLE) / CAST(n_all AS DOUBLE))), 6)
        |  AS profile_l1
        |FROM grid CROSS JOIN na
        |GROUP BY source ORDER BY source""".stripMargin,
    "q280_interarrival_burst" ->
      """WITH g AS (
        | SELECT event_type,
        |  (epoch_us(ts) - epoch_us(lag(ts) OVER (
        |   PARTITION BY user_id, event_type
        |   ORDER BY ts, event_id))) // 1000000 AS gap
        | FROM events),
        |s AS (
        | SELECT event_type, count(*) AS n_gaps,
        |  CAST(sum(gap) AS BIGINT) AS sx,
        |  CAST(sum(gap * gap) AS BIGINT) AS sxx
        | FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps,
        | round(CAST(sx AS DOUBLE) / n_gaps, 6) AS mean_gap_s,
        | round((sqrt(CAST(sxx AS DOUBLE) / n_gaps -
        |   (CAST(sx AS DOUBLE) / n_gaps) *
        |   (CAST(sx AS DOUBLE) / n_gaps)) -
        |  CAST(sx AS DOUBLE) / n_gaps) /
        | (sqrt(CAST(sxx AS DOUBLE) / n_gaps -
        |   (CAST(sx AS DOUBLE) / n_gaps) *
        |   (CAST(sx AS DOUBLE) / n_gaps)) +
        |  CAST(sx AS DOUBLE) / n_gaps), 6) AS burstiness_b
        |FROM s ORDER BY event_type""".stripMargin,
    "q281_stream_trending" ->
      """WITH c AS (
        | SELECT make_timestamp((epoch_us(ts) // 21600000000)
        |   * 21600000000) AS win_start,
        |  event_type, count(*) AS n_events
        | FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT win_start, event_type, n_events,
        |  CAST(rank() OVER (PARTITION BY win_start
        |   ORDER BY n_events DESC, event_type) AS INTEGER) AS rk
        | FROM c)
        |SELECT win_start, event_type, n_events, rk
        |FROM r WHERE rk <= 3
        |ORDER BY win_start, rk, event_type""".stripMargin,
    "q282_semantic_outliers" ->
      """WITH e AS (
        | SELECT label, vec_id, i AS pos, CAST(embedding[i] AS DOUBLE)
        |   AS v
        | FROM embeddings,
        |  unnest(generate_series(1, len(embedding))) AS t(i)),
        |cent AS (
        | SELECT label, pos, avg(v) AS m FROM e GROUP BY 1, 2),
        |cn AS (SELECT label, sum(m * m) AS c2 FROM cent GROUP BY 1),
        |pv AS (
        | SELECT e.label, e.vec_id,
        |  round(sum(e.v * cent.m) /
        |   (sqrt(sum(e.v * e.v)) * sqrt(any_value(cn.c2))), 6) AS cos
        | FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
        |  JOIN cn ON e.label = cn.label
        | GROUP BY 1, 2)
        |SELECT label, count(*) AS n_members,
        | round(CAST(CAST(sum(CAST(round(cos * 1000000, 0) AS BIGINT))
        |   AS BIGINT) AS DOUBLE) / count(*)) / 1000000 AS mean_cos,
        | CAST(sum(CASE WHEN cos < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_outliers
        |FROM pv GROUP BY 1 ORDER BY 1""".stripMargin,
    "q283_markov_stationary" -> {
      // the q90 discipline: a FIXED iteration count unrolled as CTEs so
      // the oracle replicates the power iteration exactly
      def iter(k: Int) =
        s"""r$k AS (
           | SELECT p.nxt AS state, sum(r.prob * p.p) AS prob
           | FROM r${k - 1} r JOIN p ON r.state = p.cur GROUP BY 1)"""
          .stripMargin
      """WITH tr AS (
        | SELECT event_type AS cur,
        |  lead(event_type) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id) AS nxt
        | FROM events),
        |c AS (
        | SELECT cur, nxt, count(*) AS cnt FROM tr
        | WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT cur, CAST(sum(cnt) AS BIGINT) AS tot
        |  FROM c GROUP BY 1),
        |p AS (
        | SELECT c.cur, c.nxt, CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)
        |   AS p
        | FROM c JOIN t ON c.cur = t.cur),
        |states AS (SELECT DISTINCT cur AS state FROM p),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM states),
        |r0 AS (SELECT state, 1.0 / nn.n AS prob
        |  FROM states CROSS JOIN nn),
        |""".stripMargin +
        (1 to 12).map(iter).mkString(",\n") +
        "\nSELECT state AS event_type, round(prob, 6) AS stationary_prob" +
        "\nFROM r12 ORDER BY event_type"
    },
    "q284_price_index" ->
      """WITH py AS (
        | SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |    AS DOUBLE) / 100.0 /
        |   CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS DOUBLE)
        |    AS unit,
        |  CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sq
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY 1, 2),
        |b AS (SELECT l_partkey, unit AS unit0, sq AS q0 FROM py
        |  WHERE yr = 1995)
        |SELECT yr, count(*) AS n_parts,
        | round(sum(unit * q0) / sum(unit0 * q0), 6) AS laspeyres_idx
        |FROM py JOIN b USING (l_partkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q285_compressibility" ->
      """WITH pd AS (
        | SELECT source,
        |  round(CAST(len(list_distinct(list_transform(
        |    generate_series(1, length(text) - 2),
        |    i -> substr(text, i, 3)))) AS DOUBLE) /
        |   CAST(length(text) - 2 AS DOUBLE), 6) AS ratio
        | FROM documents WHERE length(text) >= 3)
        |SELECT source, count(*) AS n_docs,
        | round(avg(ratio), 6) AS mean_tri_ratio,
        | round(sum(CASE WHEN ratio < 0.3 THEN 1.0 ELSE 0.0 END) /
        |  count(*), 6) AS templated_share
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin,
    "q286_whale_curve" ->
      """WITH pc AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |r AS (
        | SELECT cents,
        |  row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk,
        |  count(*) OVER () AS n FROM pc),
        |d AS (
        | SELECT CAST((rk - 1) * 10 // n AS INTEGER) AS decile,
        |  count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS c
        | FROM r GROUP BY 1),
        |cum AS (
        | SELECT decile, n_customers, c,
        |  CAST(sum(c) OVER (ORDER BY decile) AS BIGINT) AS cumc,
        |  CAST(sum(c) OVER () AS BIGINT) AS tot
        | FROM d)
        |SELECT decile, n_customers,
        | round(CAST(c AS DOUBLE) / 100.0, 2) AS revenue_usd,
        | round(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |  AS revenue_share,
        | round(CAST(cumc AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |  AS cum_share
        |FROM cum ORDER BY decile""".stripMargin,
    "q287_brand_gini" ->
      """WITH pp AS (
        | SELECT p_brand, l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | GROUP BY 1, 2),
        |r AS (
        | SELECT p_brand, cents,
        |  row_number() OVER (PARTITION BY p_brand
        |   ORDER BY cents, l_partkey) AS i
        | FROM pp),
        |s AS (
        | SELECT p_brand, count(*) AS n_parts,
        |  CAST(sum(cents) AS BIGINT) AS sx,
        |  CAST(sum(i * cents) AS BIGINT) AS six
        | FROM r GROUP BY 1)
        |SELECT p_brand, n_parts,
        | round((2.0 * CAST(six AS DOUBLE) -
        |   CAST(n_parts + 1 AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |  (CAST(n_parts AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
        |FROM s ORDER BY p_brand""".stripMargin,
    "q288_neyman_allocation" ->
      """WITH s AS (
        | SELECT o_orderpriority, count(*) AS n_h,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   AS BIGINT) AS sx,
        |  sum(CAST(round(o_totalprice * 100, 0) AS DOUBLE) *
        |   CAST(round(o_totalprice * 100, 0) AS DOUBLE)) AS sxx
        | FROM orders GROUP BY 1),
        |m AS (
        | SELECT o_orderpriority, n_h,
        |  sqrt(CAST(sxx AS DOUBLE) / n_h -
        |   (CAST(sx AS DOUBLE) / n_h) * (CAST(sx AS DOUBLE) / n_h))
        |   AS sigma
        | FROM s),
        |d AS (SELECT sum(n_h * sigma) AS d FROM m)
        |SELECT o_orderpriority, n_h,
        | round(sigma / 100.0, 2) AS sigma_usd,
        | round(n_h * sigma / d, 6) AS neyman_share,
        | CAST(round(1000 * (n_h * sigma / d), 0) AS BIGINT)
        |  AS alloc_rows
        |FROM m CROSS JOIN d ORDER BY o_orderpriority""".stripMargin,
    "q289_session_lift" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL OR
        |   ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |   AS new_s
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (
        | SELECT DISTINCT user_id, event_type,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS sid
        | FROM flagged),
        |ns AS (SELECT count(*) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, sid FROM st)),
        |pt AS (SELECT event_type, count(*) AS n_t FROM st GROUP BY 1),
        |ab AS (
        | SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_ab
        | FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
        |  AND a.event_type <> b.event_type
        | GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab,
        | round((CAST(n_ab AS DOUBLE) / pa.n_t) /
        |  (CAST(pb.n_t AS DOUBLE) / n_sessions), 6) AS lift
        |FROM ab JOIN pt pa ON ab.type_a = pa.event_type
        | JOIN pt pb ON ab.type_b = pb.event_type
        | CROSS JOIN ns
        |ORDER BY type_a, type_b""".stripMargin,
    "q290_value_migration" ->
      """WITH h1 AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM orders WHERE o_orderdate < TIMESTAMP '1998-05-01'
        | GROUP BY 1),
        |h2 AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM orders WHERE o_orderdate >= TIMESTAMP '1998-05-01'
        | GROUP BY 1),
        |t1 AS (
        | SELECT o_custkey, 'T' || CAST(CAST((row_number() OVER (
        |   ORDER BY cents DESC, o_custkey) - 1) * 3 //
        |   count(*) OVER () AS INTEGER) + 1 AS VARCHAR) AS tier
        | FROM h1),
        |t2 AS (
        | SELECT o_custkey, 'T' || CAST(CAST((row_number() OVER (
        |   ORDER BY cents DESC, o_custkey) - 1) * 3 //
        |   count(*) OVER () AS INTEGER) + 1 AS VARCHAR) AS tier
        | FROM h2)
        |SELECT COALESCE(t1.tier, 'none') AS tier_h1,
        | COALESCE(t2.tier, 'none') AS tier_h2,
        | count(*) AS n_customers
        |FROM t1 FULL JOIN t2 ON t1.o_custkey = t2.o_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q291_first_order_repeat" ->
      """WITH pc AS (
        | SELECT o_custkey, first_cents, n_orders FROM (
        |  SELECT o_custkey,
        |   first_value(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |    OVER w AS first_cents,
        |   count(*) OVER (PARTITION BY o_custkey) AS n_orders,
        |   row_number() OVER w AS rn
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey)
        | ) WHERE rn = 1)
        |SELECT first_cents // 5000000 AS band,
        | count(*) AS n_customers,
        | round(sum(CASE WHEN n_orders > 1 THEN 1.0 ELSE 0.0 END) /
        |  count(*), 6) AS repeat_rate,
        | round(avg(n_orders - 1), 6) AS avg_followups
        |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q292_tfidf_cosine_pairs" ->
      """WITH tc AS (
        | SELECT doc_id, tok, 1 AS cnt FROM (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |   generate_series(1, len(string_split(text, ' ')) - 2),
        |   i -> string_split(text, ' ')[i] || ' ' ||
        |    string_split(text, ' ')[i+1] || ' ' ||
        |    string_split(text, ' ')[i+2]))) AS tok
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3)),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |kept AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1
        |  HAVING count(*) <= 256),
        |wt AS (
        | SELECT doc_id, tc.tok,
        |  CAST(cnt AS DOUBLE) * ln(n_docs / CAST(df AS DOUBLE)) AS w
        | FROM tc JOIN kept ON tc.tok = kept.tok CROSS JOIN nd),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM wt
        |  GROUP BY 1),
        |dots AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  sum(a.w * b.w) AS dot
        | FROM wt a JOIN wt b ON a.tok = b.tok AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | round(round(dot / (na.nrm * nb.nrm), 6), 4) AS cosine
        |FROM dots
        | JOIN nrm na ON dots.doc_a = na.doc_id
        | JOIN nrm nb ON dots.doc_b = nb.doc_id
        |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q293_brand_movers" ->
      """WITH by_y AS (
        | SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, p_brand,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        | GROUP BY 1, 2),
        |r AS (
        | SELECT yr, p_brand, row_number() OVER (PARTITION BY yr
        |   ORDER BY cents DESC, p_brand) AS rk
        | FROM by_y)
        |SELECT c.p_brand, c.yr, p.rk AS prev_rank, c.rk AS rank,
        | p.rk - c.rk AS rank_delta
        |FROM r c JOIN r p ON c.p_brand = p.p_brand AND c.yr = p.yr + 1
        |ORDER BY c.p_brand, c.yr""".stripMargin,
    "q294_entry_value" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type, value,
        |  CASE WHEN lag(ts) OVER w IS NULL OR
        |   ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |   AS new_s
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id, event_type, ts, event_id, value,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS sid
        | FROM flagged),
        |per AS (
        | SELECT user_id, sid,
        |  min(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
        |   lpad(CAST(event_id AS VARCHAR), 20, '0') || event_type)
        |   AS entry_key,
        |  sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)
        |   AS purchase_value,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS converted
        | FROM sess GROUP BY 1, 2)
        |SELECT substr(entry_key, 41) AS entry_type,
        | count(*) AS n_sessions,
        | CAST(sum(converted) AS BIGINT) AS n_converted,
        | round(sum(purchase_value), 2) AS total_purchase_value,
        | round(sum(purchase_value) / count(*), 6) AS value_per_session
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q295_signup_to_purchase" ->
      """WITH f AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
        |   AS su,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |   AS pu
        | FROM events WHERE event_type IN ('signup', 'purchase')
        | GROUP BY 1 HAVING su IS NOT NULL),
        |b AS (
        | SELECT CASE
        |  WHEN pu IS NULL OR pu < su THEN '6_never'
        |  WHEN pu - su <= 3600000000 THEN '1_within_1h'
        |  WHEN pu - su <= 21600000000 THEN '2_within_6h'
        |  WHEN pu - su <= 86400000000 THEN '3_within_1d'
        |  WHEN pu - su <= 604800000000 THEN '4_within_7d'
        |  ELSE '5_over_7d' END AS bucket
        | FROM f),
        |t AS (SELECT count(*) AS n_signups FROM b)
        |SELECT bucket, count(*) AS n_users,
        | round(CAST(count(*) AS DOUBLE) / CAST(n_signups AS DOUBLE), 6)
        |  AS share
        |FROM b CROSS JOIN t GROUP BY bucket, n_signups
        |ORDER BY bucket""".stripMargin,
    "q296_trade_balance" ->
      """WITH li AS (
        | SELECT s_nationkey AS sn, c_nationkey AS cn,
        |  CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
        |   AS BIGINT) AS cents
        | FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey),
        |x AS (SELECT sn AS nk, CAST(sum(cents) AS BIGINT) AS exp_c
        |  FROM li GROUP BY 1),
        |m AS (SELECT cn AS nk, CAST(sum(cents) AS BIGINT) AS imp_c
        |  FROM li GROUP BY 1)
        |SELECT n_name,
        | round(CAST(COALESCE(exp_c, 0) AS DOUBLE) / 100.0, 2)
        |  AS exports_usd,
        | round(CAST(COALESCE(imp_c, 0) AS DOUBLE) / 100.0, 2)
        |  AS imports_usd,
        | round(CAST(COALESCE(exp_c, 0) - COALESCE(imp_c, 0) AS DOUBLE)
        |  / 100.0, 2) AS balance_usd
        |FROM x FULL JOIN m ON x.nk = m.nk
        | JOIN nation ON COALESCE(x.nk, m.nk) = n_nationkey
        |ORDER BY n_name""".stripMargin,
    "q297_top_brands_other" ->
      """WITH b AS (
        | SELECT p_brand,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |t AS (
        | SELECT p_brand, cents,
        |  CASE WHEN row_number() OVER (ORDER BY cents DESC, p_brand)
        |   <= 5 THEN p_brand ELSE 'OTHER' END AS bucket
        | FROM b),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM b)
        |SELECT bucket, count(*) AS n_brands,
        | round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS revenue_usd,
        | round(CAST(sum(cents) AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |  AS revenue_share
        |FROM t CROSS JOIN tot GROUP BY bucket, tot
        |ORDER BY revenue_usd DESC, bucket""".stripMargin,
    "q298_source_purity" ->
      """WITH c AS (
        | SELECT source, lang, count(*) AS n FROM documents
        | GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs
        |  FROM c GROUP BY 1),
        |r AS (
        | SELECT source, lang, n,
        |  row_number() OVER (PARTITION BY source
        |   ORDER BY n DESC, lang) AS rk
        | FROM c)
        |SELECT r.source, n_docs, lang AS majority_lang,
        | round(CAST(n AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS purity
        |FROM r JOIN t ON r.source = t.source
        |WHERE rk = 1 ORDER BY r.source""".stripMargin,
    "q299_user_specialization" ->
      """WITH ut AS (
        | SELECT user_id, event_type, count(*) AS n FROM events
        | GROUP BY 1, 2),
        |pu AS (
        | SELECT user_id, count(*) AS n_types,
        |  CAST(sum(n) AS BIGINT) AS tot,
        |  sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS nlogn
        | FROM ut GROUP BY 1)
        |SELECT n_types, count(*) AS n_users,
        | round(avg(ln(CAST(tot AS DOUBLE)) - nlogn / CAST(tot AS DOUBLE)),
        |  6) AS mean_entropy
        |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin,
    "q300_brown_forecast" ->
      """WITH daily AS (
        | SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) // 100
        |    AS dollars
        | FROM orders GROUP BY 1),
        |p1 AS (
        | SELECT day, day - k * INTERVAL 1 DAY AS src_day,
        |  CAST(round(pow(4, k) * pow(5, 6 - k), 0) AS BIGINT) AS w
        | FROM daily CROSS JOIN range(0, 7) t(k)),
        |sm1 AS (
        | SELECT p.day, sum(d.dollars * p.w) AS n1, sum(p.w) AS d1,
        |  CAST(round(CAST(sum(d.dollars * p.w) AS DOUBLE) / sum(p.w)
        |    * 100, 0) AS BIGINT) AS s1c
        | FROM p1 p JOIN daily d ON p.src_day = d.day GROUP BY 1),
        |p2 AS (
        | SELECT day, day - k * INTERVAL 1 DAY AS src_day,
        |  CAST(round(pow(4, k) * pow(5, 6 - k), 0) AS BIGINT) AS w
        | FROM sm1 CROSS JOIN range(0, 7) t(k)),
        |sm2 AS (
        | SELECT p.day, CAST(round(CAST(sum(s.s1c * p.w) AS DOUBLE)
        |    / sum(p.w), 0) AS BIGINT) AS s2c
        | FROM p2 p JOIN sm1 s ON p.src_day = s.day GROUP BY 1)
        |SELECT d.day, d.dollars,
        | CAST(s1c AS DOUBLE) / 100 AS s1,
        | CAST(s2c AS DOUBLE) / 100 AS s2,
        | CAST(s1c * 9 - s2c * 5 AS DOUBLE) / 400 AS forecast_next
        |FROM daily d JOIN sm1 ON d.day = sm1.day
        | JOIN sm2 ON d.day = sm2.day
        |ORDER BY d.day""".stripMargin,
    "q301_cms_contract" ->
      """SELECT p_brand AS brand, count(*) AS exact_cnt, TRUE AS cms_ok
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q306_pq_rerank" ->
      """WITH q AS (SELECT embedding AS q_emb FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id = 1)
        |SELECT vec_id, label,
        | round(list_inner_product(embedding, q_emb)
        |   / (sqrt(list_inner_product(embedding, embedding))
        |      * sqrt(list_inner_product(q_emb, q_emb))), 4) AS cos_sim
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings, q WHERE vec_id <> 1
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "q307_bloom_contract" ->
      """WITH oc AS (SELECT DISTINCT o_custkey FROM orders)
        |SELECT count(*) AS n_customers,
        | CAST(sum(CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END)
        |   AS BIGINT) AS n_with_orders,
        | CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_without_orders,
        | TRUE AS bloom_ok
        |FROM customer LEFT JOIN oc ON c_custkey = o_custkey""".stripMargin,
    "q308_seasonal_mase" ->
      """WITH daily AS (
        | SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |    AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |j AS (
        | SELECT d.day, d.cents, w.cents AS cents_w, n.cents AS cents_d
        | FROM daily d
        |  JOIN daily w ON d.day = w.day + INTERVAL 7 DAY
        |  JOIN daily n ON d.day = n.day + INTERVAL 1 DAY)
        |SELECT (CAST(date_diff('day', DATE '1970-01-01',
        |   CAST(day AS DATE)) AS BIGINT) + 4) % 7 AS weekday,
        | count(*) AS n_days,
        | CAST(sum(abs(cents - cents_w)) AS BIGINT)
        |   AS abs_err_seasonal_cents,
        | CAST(sum(abs(cents - cents_d)) AS BIGINT) AS abs_err_naive_cents,
        | CASE WHEN CAST(sum(abs(cents - cents_d)) AS BIGINT) > 0 THEN
        |  round(CAST(CAST(sum(abs(cents - cents_w)) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(abs(cents - cents_d)) AS BIGINT) AS DOUBLE), 6)
        | END AS mase
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q309_semantic_decontam" ->
      """WITH e AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
        | FROM embeddings),
        |ev AS (SELECT vec_id AS e_id, emb AS e_emb FROM e WHERE label = 0),
        |mx AS (
        | SELECT vec_id, max(CAST(round(
        |   list_inner_product(emb, e_emb)
        |    / (sqrt(list_inner_product(emb, emb))
        |       * sqrt(list_inner_product(e_emb, e_emb))) * 10000, 0)
        |   AS BIGINT)) AS cmax
        | FROM e JOIN ev ON vec_id <> e_id
        | WHERE label <> 0 GROUP BY 1)
        |SELECT (cmax + 10000) // 500 AS bin, count(*) AS n_vecs,
        | round(CAST(max(cmax) AS DOUBLE) / 10000, 4) AS max_in_bin
        |FROM mx GROUP BY 1 ORDER BY 1""".stripMargin,
    "q310_source_coherence" ->
      """WITH toks AS (
        | SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |top AS (
        | SELECT source, tok FROM (
        |  SELECT source, tok, row_number() OVER (PARTITION BY source
        |    ORDER BY count(*) DESC, tok) AS r
        |  FROM toks GROUP BY source, tok) WHERE r <= 5),
        |inc AS (
        | SELECT DISTINCT doc_id, tok FROM toks
        | WHERE tok IN (SELECT tok FROM top)),
        |dfk AS (SELECT tok, count(*) AS df FROM inc GROUP BY 1),
        |cooc AS (
        | SELECT a.tok AS ta, b.tok AS tb, count(*) AS df_ab
        | FROM inc a JOIN inc b ON a.doc_id = b.doc_id AND a.tok < b.tok
        | GROUP BY 1, 2),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |pair AS (
        | SELECT g.source, da.df AS df_a, db.df AS df_b,
        |  coalesce(c.df_ab, 0) AS df_ab, n_docs
        | FROM (SELECT a.source, a.tok AS ta, b.tok AS tb
        |       FROM top a JOIN top b
        |        ON a.source = b.source AND a.tok < b.tok) g
        |  JOIN dfk da ON g.ta = da.tok
        |  JOIN dfk db ON g.tb = db.tok
        |  LEFT JOIN cooc c ON g.ta = c.ta AND g.tb = c.tb
        |  CROSS JOIN nd)
        |SELECT source, count(*) AS n_pairs,
        | CAST(sum(CASE WHEN df_ab = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_zero_pairs,
        | round(avg(CASE WHEN df_ab > 0 THEN
        |   log2(CAST(df_ab * n_docs AS DOUBLE)
        |     / CAST(df_a * df_b AS DOUBLE)) END), 4) AS mean_pmi
        |FROM pair GROUP BY 1 ORDER BY 1""".stripMargin,
    "q311_truncation_ndcg" -> (
      """WITH e AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        | FROM embeddings),
        |a AS (SELECT vec_id AS a_id, emb AS e_a FROM e WHERE vec_id < 128),
        |p AS (
        | SELECT a_id, vec_id AS b_id,
        |  round(list_inner_product(e_a, emb)
        |    / (sqrt(list_inner_product(e_a, e_a))
        |       * sqrt(list_inner_product(emb, emb))), 4) AS c_full,
        |  round(list_inner_product(e_a[1:16], emb[1:16])
        |    / (sqrt(list_inner_product(e_a[1:16], e_a[1:16]))
        |       * sqrt(list_inner_product(emb[1:16], emb[1:16]))), 4)
        |    AS c_trunc
        | FROM a, e WHERE vec_id <> a_id),
        |r AS (
        | SELECT a_id, b_id,
        |  row_number() OVER (PARTITION BY a_id
        |    ORDER BY c_full DESC, b_id) AS full_rank,
        |  row_number() OVER (PARTITION BY a_id
        |    ORDER BY c_trunc DESC, b_id) AS trunc_rank
        | FROM p),
        |n AS (
        | SELECT a_id, CAST(round(
        |   sum(CAST(greatest(0, 11 - full_rank) AS DOUBLE)
        |     / log2(CAST(trunc_rank AS DOUBLE) + 1)) / IDCG * 1e6, 0)
        |   AS BIGINT) AS ndcg6
        | FROM r WHERE trunc_rank <= 10 GROUP BY 1)
        |SELECT ndcg6 // 100000 AS band, count(*) AS n_anchors,
        | round(CAST(sum(ndcg6) AS BIGINT) / CAST(count(*) AS DOUBLE)
        |   / 1e6, 6) AS mean_ndcg
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin
        .replace("IDCG", graft.operators.Similarity.ndcgIdcg(10).toString)),
    "q312_price_volume_mix" ->
      """WITH byr AS (
        | SELECT p_brand, year(o_orderdate) = 1995 AS is_base,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty
        | FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        | WHERE year(o_orderdate) IN (1995, 1996)
        | GROUP BY 1, 2),
        |b0 AS (SELECT p_brand, cents AS r0, qty AS q0 FROM byr
        |       WHERE is_base),
        |b1 AS (SELECT p_brand, cents AS r1, qty AS q1 FROM byr
        |       WHERE NOT is_base)
        |SELECT p_brand, round(CAST(r0 AS DOUBLE) / 100, 2) AS rev0,
        | round(CAST(r1 AS DOUBLE) / 100, 2) AS rev1,
        | round(CAST(r1 - r0 AS DOUBLE) / 100, 2) AS delta,
        | round((CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0)
        |   * q1 / 100, 2) AS price_effect,
        | round(CAST(r0 AS DOUBLE) / q0 * (q1 - q0) / 100, 2)
        |   AS volume_effect
        |FROM b0 JOIN b1 USING (p_brand) ORDER BY p_brand""".stripMargin,
    "q313_stl_weekday" ->
      """WITH daily AS (
        | SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |    AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |wd AS (
        | SELECT day, cents,
        |  CAST(sum(cents) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS t7,
        |  count(*) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
        | FROM daily),
        |det AS (
        | SELECT (CAST(date_diff('day', DATE '1970-01-01',
        |   CAST(day AS DATE)) AS BIGINT) + 4) % 7 AS weekday,
        |  cents * 7 - t7 AS det7
        | FROM wd WHERE n7 = 7),
        |seas AS (
        | SELECT weekday, count(*) AS n_days,
        |  CAST(CAST(sum(det7) AS BIGINT) AS DOUBLE) / 7 / count(*) / 100
        |    AS seasonal_d
        | FROM det GROUP BY 1)
        |SELECT d.weekday, count(*) AS n_days,
        | round(max(s.seasonal_d), 6) AS seasonal,
        | round(sum(abs(CAST(d.det7 AS DOUBLE) / 700 - s.seasonal_d))
        |   / count(*), 2) AS mean_abs_residual
        |FROM det d JOIN seas s USING (weekday)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q314_repetition_profile" ->
      """WITH base AS (
        | SELECT doc_id, source, string_split(text, ' ') AS t
        | FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |uni AS (
        | SELECT doc_id, source, max(c) AS max_tf,
        |  CAST(sum(c) AS BIGINT) AS len
        | FROM (SELECT doc_id, source, g, count(*) AS c
        |       FROM (SELECT doc_id, source, unnest(t) AS g FROM base)
        |       GROUP BY 1, 2, 3)
        | GROUP BY 1, 2),
        |bi AS (
        | SELECT doc_id, max(c) AS max_bg
        | FROM (SELECT doc_id, g, count(*) AS c
        |       FROM (SELECT doc_id, unnest(list_transform(
        |         generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i + 1])) AS g FROM base)
        |       GROUP BY 1, 2)
        | GROUP BY 1)
        |SELECT source, count(*) AS n_docs,
        | round(avg(CAST(max_tf AS DOUBLE) / len), 6) AS mean_max_tf_ratio,
        | round(avg(CAST(max_bg AS DOUBLE) / (len - 1)), 6)
        |   AS mean_top_bigram_ratio
        |FROM uni JOIN bi USING (doc_id) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q315_kcore_peel" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |e0 AS (
        | SELECT doc_a AS src, doc_b AS dst FROM pairs
        | UNION ALL SELECT doc_b, doc_a FROM pairs),
        |d1 AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
        |r1 AS (SELECT src FROM d1 WHERE deg < 2),
        |e1 AS (SELECT src, dst FROM e0
        | WHERE src NOT IN (SELECT src FROM r1)
        |   AND dst NOT IN (SELECT src FROM r1)),
        |d2 AS (SELECT src, count(*) AS deg FROM e1 GROUP BY 1),
        |r2 AS (SELECT src FROM d2 WHERE deg < 2),
        |e2 AS (SELECT src, dst FROM e1
        | WHERE src NOT IN (SELECT src FROM r2)
        |   AND dst NOT IN (SELECT src FROM r2)),
        |d3 AS (SELECT src, count(*) AS deg FROM e2 GROUP BY 1),
        |r3 AS (SELECT src FROM d3 WHERE deg < 2)
        |SELECT 1 AS peel_round, (SELECT count(*) FROM d1) AS n_nodes,
        | (SELECT count(*) FROM r1) AS n_removed
        |UNION ALL SELECT 2, (SELECT count(*) FROM d2),
        | (SELECT count(*) FROM r2)
        |UNION ALL SELECT 3, (SELECT count(*) FROM d3),
        | (SELECT count(*) FROM r3)
        |ORDER BY peel_round""".stripMargin,
    "q316_order_cycle" ->
      """WITH d AS (
        | SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        |    AS month,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) AS BIGINT) AS d
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT month, count(*) AS n_lines,
        | round(CAST(CAST(sum(d) AS BIGINT) AS DOUBLE) / count(*), 6)
        |   AS mean_days_to_ship,
        | round(quantile_cont(d, 0.95), 4) AS p95_days_to_ship,
        | round(CAST(CAST(sum(CASE WHEN d > 30 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS DOUBLE) / count(*), 6) AS late30_rate
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q317_aspect_buckets" ->
      """WITH a AS (
        | SELECT CAST(16 + doc_id % 64 AS BIGINT) AS w,
        |  CAST(16 + doc_id % 48 AS BIGINT) AS h
        | FROM documents),
        |b AS (
        | SELECT (10 * w) // h AS bucket, count(*) AS n_assets,
        |  CAST(max(w) AS BIGINT) AS max_w, CAST(max(h) AS BIGINT) AS max_h,
        |  CAST(sum(w * h) AS BIGINT) AS px
        | FROM a GROUP BY 1)
        |SELECT bucket, n_assets, max_w, max_h,
        | round(1.0 - CAST(px AS DOUBLE)
        |   / CAST(n_assets * max_w * max_h AS DOUBLE), 6) AS pad_waste
        |FROM b ORDER BY bucket""".stripMargin,
    "q318_transition_dwell" ->
      """WITH g AS (
        | SELECT event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_type,
        |  (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id))) // 1000000 AS gap_s
        | FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS n,
        | round(CAST(CAST(sum(gap_s) AS BIGINT) AS DOUBLE) / count(*), 6)
        |   AS mean_gap_s,
        | round(quantile_cont(gap_s, 0.5), 4) AS median_gap_s
        |FROM g WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q302_matryoshka_recall" ->
      """WITH e AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        | FROM embeddings),
        |a AS (SELECT vec_id AS a_id, emb AS e_a FROM e WHERE vec_id < 128),
        |p AS (
        | SELECT a_id, vec_id AS b_id,
        |  round(list_inner_product(e_a, emb)
        |    / (sqrt(list_inner_product(e_a, e_a))
        |       * sqrt(list_inner_product(emb, emb))), 4) AS c_full,
        |  round(list_inner_product(e_a[1:16], emb[1:16])
        |    / (sqrt(list_inner_product(e_a[1:16], e_a[1:16]))
        |       * sqrt(list_inner_product(emb[1:16], emb[1:16]))), 4)
        |    AS c_trunc
        | FROM a, e WHERE vec_id <> a_id),
        |tf AS (
        | SELECT a_id, b_id FROM (
        |  SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
        |   ORDER BY c_full DESC, b_id) AS r FROM p) WHERE r <= 10),
        |tt AS (
        | SELECT a_id, b_id FROM (
        |  SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
        |   ORDER BY c_trunc DESC, b_id) AS r FROM p) WHERE r <= 10),
        |inter AS (
        | SELECT a_id, count(*) AS n_common
        | FROM tf JOIN tt USING (a_id, b_id) GROUP BY 1),
        |ov AS (
        | SELECT a.a_id, coalesce(i.n_common, 0) AS n_common
        | FROM a LEFT JOIN inter i ON a.a_id = i.a_id)
        |SELECT n_common, count(*) AS n_anchors,
        | round(CAST(n_common AS DOUBLE) / 10, 4) AS recall_at_k
        |FROM ov GROUP BY 1 ORDER BY 1""".stripMargin,
    "q303_source_jsd" ->
      """WITH tf AS (
        | SELECT source, tok, count(*) AS cnt
        | FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)
        | GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot
        |  FROM tf GROUP BY 1),
        |p AS (SELECT tf.source, tok, cnt, tot FROM tf JOIN tot USING (source)),
        |j AS (
        | SELECT a.source AS src_a, b.source AS src_b,
        |  a.cnt AS ca, a.tot AS ta, b.cnt AS cb, b.tot AS tb
        | FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source),
        |co AS (
        | SELECT src_a, src_b, count(*) AS n_common_terms,
        |  round(
        |   sum(ca * log2((2.0 * ca * tb)
        |     / (CAST(ca AS DOUBLE) * tb + CAST(cb AS DOUBLE) * ta)))
        |     / max(ta) / 2
        |   + sum(cb * log2((2.0 * cb * ta)
        |     / (CAST(ca AS DOUBLE) * tb + CAST(cb AS DOUBLE) * ta)))
        |     / max(tb) / 2
        |   + (1.0 - CAST(sum(ca) AS DOUBLE) / max(ta)) / 2
        |   + (1.0 - CAST(sum(cb) AS DOUBLE) / max(tb)) / 2, 4) AS jsd
        | FROM j GROUP BY 1, 2),
        |grid AS (
        | SELECT a.source AS src_a, b.source AS src_b
        | FROM tot a, tot b WHERE a.source < b.source)
        |SELECT g.src_a, g.src_b,
        | coalesce(n_common_terms, 0) AS n_common_terms,
        | coalesce(jsd, 1.0) AS jsd
        |FROM grid g LEFT JOIN co
        | ON g.src_a = co.src_a AND g.src_b = co.src_b
        |ORDER BY 1, 2""".stripMargin,
    "q304_k_anonymity" ->
      """WITH cls AS (
        | SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(CAST(round(c_acctbal * 100, 0) AS BIGINT) / 200000.0)
        |    AS BIGINT) AS bal_band,
        |  count(*) AS class_size
        | FROM customer GROUP BY 1, 2, 3)
        |SELECT class_size, count(*) AS n_classes,
        | class_size * count(*) AS n_customers,
        | class_size < 5 AS at_risk
        |FROM cls GROUP BY class_size ORDER BY class_size""".stripMargin,
    "q305_join_cardinality" ->
      """WITH oa AS (
        | SELECT count(*) AS n_a, count(DISTINCT o_orderkey) AS ndv_a
        | FROM orders),
        |ob AS (
        | SELECT count(*) AS n_b, count(DISTINCT l_orderkey) AS ndv_b
        | FROM lineitem),
        |oc AS (
        | SELECT count(*) AS actual
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |pa AS (
        | SELECT count(*) AS n_a, count(DISTINCT p_partkey) AS ndv_a
        | FROM part),
        |pb AS (
        | SELECT count(*) AS n_b, count(DISTINCT l_partkey) AS ndv_b
        | FROM lineitem),
        |pc AS (
        | SELECT count(*) AS actual
        | FROM part JOIN lineitem ON p_partkey = l_partkey)
        |SELECT * FROM (
        | SELECT 'orders_lineitem' AS join_name, n_a, ndv_a, n_b, ndv_b,
        |  (n_a * n_b) // greatest(ndv_a, ndv_b) AS estimated, actual,
        |  round(CAST((n_a * n_b) // greatest(ndv_a, ndv_b) AS DOUBLE)
        |    / CAST(actual AS DOUBLE), 4) AS ratio
        | FROM oa, ob, oc
        | UNION ALL
        | SELECT 'part_lineitem', n_a, ndv_a, n_b, ndv_b,
        |  (n_a * n_b) // greatest(ndv_a, ndv_b), actual,
        |  round(CAST((n_a * n_b) // greatest(ndv_a, ndv_b) AS DOUBLE)
        |    / CAST(actual AS DOUBLE), 4)
        | FROM pa, pb, pc)
        |ORDER BY join_name""".stripMargin,
    "q188_growth_accounting" ->
      """WITH uw AS (
        | SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM events),
        |fw AS (SELECT user_id, min(week) AS first_week FROM uw GROUP BY 1),
        |cl AS (
        | SELECT w.week, count(*) AS active,
        |  CAST(sum(CASE WHEN f.first_week = w.week THEN 1 ELSE 0 END)
        |    AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS retained,
        |  CAST(sum(CASE WHEN p.user_id IS NULL AND f.first_week < w.week
        |    THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        | FROM uw w JOIN fw f USING (user_id)
        | LEFT JOIN uw p ON p.user_id = w.user_id
        |   AND p.week + INTERVAL 7 DAY = w.week
        | GROUP BY 1)
        |SELECT week, active, new_users, retained, resurrected,
        | COALESCE(lag(active) OVER (ORDER BY week) - retained, 0) AS churned
        |FROM cl ORDER BY week""".stripMargin,
    "q189_behavior_switchers" ->
      """WITH ca AS (
        | SELECT user_id, event_type, count(*) AS n FROM events
        | WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2),
        |da AS (
        | SELECT user_id, event_type AS dominant_before FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY n DESC, event_type DESC) AS rn FROM ca)
        | WHERE rn = 1),
        |cb AS (
        | SELECT user_id, event_type, count(*) AS n FROM events
        | WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2),
        |db AS (
        | SELECT user_id, event_type AS dominant_after FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY n DESC, event_type DESC) AS rn FROM cb)
        | WHERE rn = 1)
        |SELECT dominant_before, dominant_after, count(*) AS n_users
        |FROM da JOIN db USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q190_char_entropy" ->
      """WITH ch AS (
        | SELECT lang, unnest(string_split(text, '')) AS ch FROM documents),
        |c AS (
        | SELECT lang, ch, count(*) AS n FROM ch WHERE ch <> ''
        | GROUP BY 1, 2)
        |SELECT lang, CAST(sum(n) AS BIGINT) AS n_chars,
        | count(*) AS distinct_chars,
        | round(ln(CAST(sum(n) AS DOUBLE)) -
        |   sum(n * ln(CAST(n AS DOUBLE))) / sum(n), 3) AS char_entropy
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "q183_cohort_ltv" ->
      """WITH ev AS (
        | SELECT user_id, event_type, value, date_trunc('day', ts) AS day
        | FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
        |sizes AS (
        | SELECT cohort_day, count(*) AS cohort_users FROM cohort GROUP BY 1),
        |rev AS (
        | SELECT cohort_day,
        |  CAST(date_diff('day', CAST(cohort_day AS DATE), CAST(day AS DATE))
        |    AS BIGINT) AS age_days,
        |  round(sum(value), 2) AS revenue
        | FROM ev JOIN cohort USING (user_id)
        | WHERE event_type = 'purchase'
        | GROUP BY 1, 2)
        |SELECT r.cohort_day, age_days, s.cohort_users, revenue,
        | round(sum(revenue) OVER (PARTITION BY r.cohort_day ORDER BY age_days
        |   ROWS UNBOUNDED PRECEDING), 2) AS cum_revenue
        |FROM rev r JOIN sizes s ON r.cohort_day = s.cohort_day
        |ORDER BY 1, 2""".stripMargin,
    "q184_market_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pn AS (SELECT l_partkey, count(*) AS n FROM li GROUP BY 1),
        |no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        |p AS (
        | SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS support
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
        | round(CAST(support * n_orders AS DOUBLE) / (na.n * nb.n), 4) AS lift
        |FROM p JOIN pn na ON na.l_partkey = part_a
        | JOIN pn nb ON nb.l_partkey = part_b
        | CROSS JOIN no
        |ORDER BY support DESC, part_a, part_b LIMIT 15""".stripMargin,
    "q185_supplier_hhi" ->
      """WITH ps AS (
        | SELECT l_partkey, l_suppkey, count(*) AS n FROM lineitem
        | GROUP BY 1, 2),
        |pp AS (
        | SELECT l_partkey,
        |  CAST(sum(n * n) AS DOUBLE) / (sum(n) * sum(n)) AS hhi,
        |  count(DISTINCT l_suppkey) AS n_suppliers
        | FROM ps GROUP BY 1)
        |SELECT p_brand, count(*) AS n_parts, round(avg(hhi), 4) AS avg_hhi,
        | round(avg(n_suppliers), 4) AS avg_suppliers
        |FROM pp JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q186_ship_delay" ->
      """WITH d AS (
        | SELECT o_orderpriority,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) AS BIGINT) AS delay_days
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, count(*) AS n_lineitems,
        | round(quantile_cont(delay_days, 0.5), 4) AS p50_days,
        | round(quantile_cont(delay_days, 0.9), 4) AS p90_days,
        | max(delay_days) AS max_days
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q187_dow_profile" ->
      """WITH o AS (
        | SELECT (CAST(date_diff('day', DATE '1970-01-01',
        |   CAST(o_orderdate AS DATE)) AS BIGINT) + 4) % 7 AS dow
        | FROM orders),
        |c AS (SELECT dow, count(*) AS n_orders FROM o GROUP BY 1),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM c)
        |SELECT CAST(dow AS BIGINT) AS dow, n_orders,
        | round((n_orders - total / 7.0) * (n_orders - total / 7.0) /
        |   (total / 7.0), 6) AS chi2_term
        |FROM c CROSS JOIN t ORDER BY dow""".stripMargin,
    "q179_winsorize" ->
      """WITH b AS (
        | SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |  quantile_cont(value, 0.95) AS hi
        | FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n_events,
        | CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_clipped_low,
        | CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_clipped_high,
        | round(max(lo), 4) AS p05, round(max(hi), 4) AS p95,
        | round(avg(least(greatest(value, lo), hi)), 4) AS winsorized_mean
        |FROM events e JOIN b USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q180_rfm" ->
      """WITH ao AS (SELECT max(o_orderdate) AS as_of FROM orders),
        |pc AS (
        | SELECT o_custkey, max(o_orderdate) AS last_order,
        |  count(*) AS frequency, round(sum(o_totalprice), 2) AS monetary
        | FROM orders GROUP BY 1),
        |sc AS (
        | SELECT o_custkey, monetary, frequency,
        |  date_diff('day', CAST(last_order AS DATE), CAST(as_of AS DATE))
        |    AS recency_days
        | FROM pc CROSS JOIN ao),
        |nt AS (
        | SELECT *,
        |  CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r,
        |  CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f,
        |  CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m
        | FROM sc)
        |SELECT r, f, m, count(*) AS n_customers,
        | round(sum(monetary), 2) AS segment_value
        |FROM nt GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q181_order_gaps" ->
      """WITH w AS (
        | SELECT o_custkey, o_orderdate,
        |  lag(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev
        | FROM orders),
        |g AS (
        | SELECT CAST(date_diff('day', CAST(prev AS DATE),
        |   CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
        | FROM w WHERE prev IS NOT NULL)
        |SELECT count(*) AS n_gaps,
        | round(quantile_cont(gap_days, 0.5), 4) AS p50_days,
        | round(quantile_cont(gap_days, 0.9), 4) AS p90_days,
        | max(gap_days) AS max_days
        |FROM g""".stripMargin,
    "q182_change_point" ->
      """WITH daily AS (
        | SELECT day, CAST(round(total * 100, 0) AS BIGINT) AS cents
        | FROM (SELECT date_trunc('day', ts) AS day,
        |         round(sum(value), 2) AS total
        |       FROM events GROUP BY 1)),
        |c AS (
        | SELECT day,
        |  CAST(sum(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_cents,
        |  CAST(count(*) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS i,
        |  CAST(sum(cents) OVER () AS BIGINT) AS tot_cents,
        |  CAST(count(*) OVER () AS BIGINT) AS n
        | FROM daily)
        |SELECT day AS split_after_day,
        | round(cum_cents / 100.0 / i, 6) AS mean_before,
        | round((tot_cents - cum_cents) / 100.0 / (n - i), 6) AS mean_after,
        | round(abs(cum_cents / 100.0 / i
        |   - (tot_cents - cum_cents) / 100.0 / (n - i)), 6) AS shift
        |FROM c WHERE i < n
        |ORDER BY shift DESC, split_after_day LIMIT 1""".stripMargin,
    "q177_asof_forward" ->
      """WITH clicks AS (
        | SELECT user_id, ts, event_id, value FROM events
        | WHERE event_type = 'click'),
        |purchases AS (
        | SELECT user_id, ts, value AS purchase_value FROM events
        | WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts,
        | p.ts AS purchase_ts, p.purchase_value,
        | (epoch_us(p.ts) - epoch_us(c.ts)) // 60000000
        |   AS minutes_to_purchase
        |FROM clicks c ASOF LEFT JOIN purchases p
        | ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin,
    "q178_vocab_overlap" ->
      """WITH st0 AS (
        | SELECT source, unnest(list_distinct(string_split(text, ' ')))
        |   AS token FROM documents),
        |st AS (SELECT DISTINCT source, token FROM st0),
        |sizes AS (SELECT source, count(*) AS vocab FROM st GROUP BY 1),
        |inter AS (
        | SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        | FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
        | round(CAST(n_shared AS DOUBLE) /
        |   (sa.vocab + sb.vocab - n_shared), 6) AS jaccard
        |FROM inter
        | JOIN sizes sa ON sa.source = inter.src_a
        | JOIN sizes sb ON sb.source = inter.src_b
        |ORDER BY jaccard DESC, src_a, src_b LIMIT 20""".stripMargin,
    "q175_stream_cdc" -> cdcApplyOracle,
    "q176_session_paths" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        > INTERVAL 30 MINUTE OR
        |       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |  THEN 1 ELSE 0 END AS new_session
        | FROM events),
        |sessions AS (
        | SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |   ROWS UNBOUNDED PRECEDING) AS session_id
        | FROM flagged),
        |paths AS (
        | SELECT user_id, session_id,
        |  array_to_string(list_slice(
        |    list(event_type ORDER BY ts, event_id), 1, 3), ' > ') AS path
        | FROM sessions GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 5""".stripMargin,
    "q171_token_gini" ->
      """WITH d AS (
        | SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        | FROM documents),
        |r AS (
        | SELECT *, CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY n_tok, doc_id) AS BIGINT) AS i
        | FROM d)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        | round(2.0 * CAST(sum(i * n_tok) AS DOUBLE) /
        |   (CAST(count(*) AS DOUBLE) * CAST(sum(n_tok) AS DOUBLE)) -
        |   (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q172_template_prefixes" ->
      """SELECT array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')
        |   AS prefix,
        | count(*) AS n_docs, count(DISTINCT source) AS n_sources,
        | min(doc_id) AS first_doc
        |FROM documents GROUP BY 1 HAVING count(*) >= 3
        |ORDER BY n_docs DESC, prefix""".stripMargin,
    // substr is byte-sliced on the Spark side (binary) and char-sliced
    // here — identical on this ASCII fixture, and the digest keeps the
    // comparison honest either way
    "q173_asset_dedup" ->
      """SELECT sha256(substr(text, 1, 80)) AS digest, count(*) AS n_copies,
        | min(doc_id) AS keeper,
        | count(DISTINCT sha256(text)) AS n_distinct_full
        |FROM documents GROUP BY 1 HAVING count(*) > 1
        |ORDER BY keeper""".stripMargin,
    "q174_funnel_channel" ->
      """WITH st AS (
        | SELECT user_id, ts, event_id, event_type,
        |  first_value(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS channel,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1
        | FROM events),
        |s2 AS (
        | SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |   OVER (PARTITION BY user_id) AS t2 FROM st),
        |s3 AS (
        | SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |   OVER (PARTITION BY user_id) AS t3 FROM s2),
        |pu AS (
        | SELECT user_id, max(channel) AS channel, max(t1) AS t1,
        |  max(t2) AS t2, max(t3) AS t3 FROM s3 GROUP BY 1)
        |SELECT channel, count(*) AS n_users, count(t1) AS viewed,
        | count(t2) AS clicked, count(t3) AS converted
        |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin,
    "q170_cdc_apply" -> cdcApplyOracle,
    "q169_join_fanout" ->
      """WITH le AS (
        | SELECT user_id AS key, count(*) AS n_events FROM events GROUP BY 1),
        |ri AS (
        | SELECT o_custkey AS key, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT key,
        | CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
        | CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
        | CAST(COALESCE(n_events, 0) * COALESCE(n_orders, 0) AS BIGINT)
        |   AS fanout
        |FROM le FULL OUTER JOIN ri USING (key)
        |ORDER BY fanout DESC, key LIMIT 10""".stripMargin,
    "q164_anomaly_days" ->
      """WITH daily AS (
        | SELECT date_trunc('day', ts) AS day, round(sum(value), 2) AS total,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day_num
        | FROM events GROUP BY 1)
        |SELECT day, total,
        | round(avg(total) OVER w, 6) AS mean28,
        | count(*) OVER w AS n_days_in_window,
        | (stddev_samp(total) OVER w IS NOT NULL AND
        |  abs(total - avg(total) OVER w) > 2.0 * stddev_samp(total) OVER w)
        |   AS is_anomaly
        |FROM daily
        |WINDOW w AS (ORDER BY day_num RANGE BETWEEN 27 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "q165_funnel_timing" ->
      """WITH staged AS (
        | SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1
        | FROM events),
        |s2 AS (
        | SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |   OVER (PARTITION BY user_id) AS t2
        | FROM staged),
        |s3 AS (
        | SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |   OVER (PARTITION BY user_id) AS t3
        | FROM s2),
        |conv AS (
        | SELECT user_id, max(t1) AS t1, max(t3) AS t3 FROM s3 GROUP BY 1),
        |mins AS (
        | SELECT (epoch_us(t3) - epoch_us(t1)) // 60000000 AS minutes
        | FROM conv WHERE t3 IS NOT NULL)
        |SELECT count(*) AS n_converted,
        | round(quantile_cont(minutes, 0.5), 4) AS p50_minutes,
        | round(quantile_cont(minutes, 0.9), 4) AS p90_minutes,
        | round(avg(minutes), 4) AS mean_minutes
        |FROM mins""".stripMargin,
    "q166_idf_drift" ->
      """WITH toks AS (
        | SELECT doc_id, doc_id % 2 = 0 AS half_a,
        |  unnest(list_distinct(string_split(text, ' '))) AS token
        | FROM documents),
        |df AS (
        | SELECT token,
        |  CAST(sum(CASE WHEN half_a THEN 1 ELSE 0 END) AS BIGINT) AS df_a,
        |  CAST(sum(CASE WHEN NOT half_a THEN 1 ELSE 0 END) AS BIGINT) AS df_b
        | FROM toks GROUP BY 1),
        |n AS (
        | SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_b
        | FROM documents)
        |SELECT token, df_a, df_b,
        | round(ln(CAST(n_a + 1 AS DOUBLE) / (df_a + 1)), 4) AS idf_a,
        | round(ln(CAST(n_b + 1 AS DOUBLE) / (df_b + 1)), 4) AS idf_b,
        | round(abs(ln(CAST(n_a + 1 AS DOUBLE) / (df_a + 1)) -
        |           ln(CAST(n_b + 1 AS DOUBLE) / (df_b + 1))), 4) AS abs_drift
        |FROM df CROSS JOIN n
        |ORDER BY abs_drift DESC, token LIMIT 20""".stripMargin,
    "q163_stream_wau" -> activeUsers7dOracle,
    "q40_term_freq" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM (
        | SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        | FROM documents)
        |GROUP BY token ORDER BY df DESC, tf DESC, token LIMIT 20""".stripMargin,
    "q41_dedup_clusters" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |$reachSql
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "q42_dedup_keep" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |$reachSql,
        |comp AS (
        | SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        | FROM reach GROUP BY src)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
        |ORDER BY doc_id""".stripMargin,
    // merit keep-list: q42's component relation + the bit-portable
    // quality score; per-cluster argmax (qs DESC, doc_id tie-break),
    // unclustered docs keep themselves
    "q142_keep_best" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |$reachSql,
        |comp AS (
        | SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        | FROM reach GROUP BY src),
        |q AS (
        | SELECT doc_id,
        |  0.4 * least(len(string_split(text, ' ')) / 64.0, 1.0)
        |   + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / len(string_split(text, ' ')))
        |   + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |       / length(text)) AS qs
        | FROM documents),
        |best AS (
        | SELECT comp.doc_id,
        |  row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY qs DESC, comp.doc_id) AS rn
        | FROM comp JOIN q USING (doc_id))
        |SELECT doc_id FROM best WHERE rn = 1
        |UNION ALL
        |SELECT doc_id FROM documents
        | WHERE doc_id NOT IN (SELECT doc_id FROM comp)
        |ORDER BY doc_id""".stripMargin,
    // curriculum epochs: merit-ordered exclusive prefix sum (qs DESC,
    // doc_id) over the q62 token counts, epoch = offset div 4096
    "q143_curriculum" ->
      """WITH q AS (
        | SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  0.4 * least(len(string_split(text, ' ')) / 64.0, 1.0)
        |   + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / len(string_split(text, ' ')))
        |   + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |       / length(text)) AS qs
        | FROM documents),
        |o AS (
        | SELECT doc_id, n_tokens, qs,
        |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY qs DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS off
        | FROM q)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        | CAST(off // 4096 AS INTEGER) AS epoch
        |FROM o ORDER BY doc_id""".stripMargin,
    // bucketed roundtrip: the layout cannot change the answer — plain
    // join-rollup SQL is the oracle
    "q144_bucketed_rollup" ->
      """SELECT c_mktsegment AS segment, count(*) AS n_orders,
        | CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
        | round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_sliding_window" ->
      """SELECT ws AS window_start, event_type,
        | count(*) AS event_count, round(sum(value), 2) AS total_value
        |FROM (
        | SELECT unnest([date_trunc('hour', ts),
        |                date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
        |        event_type, value
        | FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q44_running_totals" ->
      """WITH daily AS (
        | SELECT date_trunc('day', ts) AS day, event_type,
        |  count(*) AS event_count, round(sum(value), 2) AS day_value
        | FROM events GROUP BY 1, 2)
        |SELECT day, event_type, event_count, day_value,
        | round(sum(day_value) OVER (PARTITION BY event_type ORDER BY day
        |   ROWS UNBOUNDED PRECEDING), 2) AS running_value,
        | CAST(sum(event_count) OVER (PARTITION BY event_type ORDER BY day
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_events
        |FROM daily ORDER BY event_type, day""".stripMargin,
    "q45_chars_percentiles" ->
      """SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS p50,
        | round(quantile_cont(n_chars, 0.9), 4) AS p90,
        | CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q47_multimodal_resize" ->
      """WITH sized AS (
        | SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END
        |    AS format,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n,
        |  CAST(GREATEST(1, octet_length(encode(text)) // 64) AS INTEGER)
        |    AS stride
        | FROM documents)
        |SELECT doc_id, format, n AS n_bytes,
        | CAST((n + stride - 1) // stride AS INTEGER) AS resized_bytes,
        | CAST((n + 31) // 32 AS INTEGER) AS n_frames,
        | CAST(((n + 31) // 32 + 3) // 4 AS INTEGER) AS sampled_frames
        |FROM sized ORDER BY doc_id""".stripMargin,
    "q48_quality_filter" ->
      """WITH tc AS (
        | SELECT doc_id, tok, count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)
        | GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id,
        |  CAST(sum(cnt) AS INTEGER) AS n_tokens,
        |  CAST(count(*) AS INTEGER) AS distinct_tokens,
        |  CAST(max(cnt) AS INTEGER) AS top_count,
        |  CAST(sum(length(tok) * cnt) AS BIGINT) AS tok_chars
        | FROM tc GROUP BY 1)
        |SELECT doc_id, n_tokens, distinct_tokens,
        | round(1.0 - CAST(distinct_tokens AS DOUBLE) / n_tokens, 4) AS dup_ratio,
        | round(CAST(top_count AS DOUBLE) / n_tokens, 4) AS top_ratio,
        | round(CAST(tok_chars AS DOUBLE) / n_tokens, 4) AS mean_tok_len,
        | (n_tokens >= 20
        |  AND 1.0 - CAST(distinct_tokens AS DOUBLE) / n_tokens < 0.6
        |  AND CAST(top_count AS DOUBLE) / n_tokens < 0.15) AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q49_train_split" ->
      """SELECT lang,
        | CASE WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 80 THEN 'train'
        |      WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split,
        | count(*) AS n_docs,
        | round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q50_tfidf" ->
      """WITH tc AS (
        | SELECT doc_id, tok, count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)
        | GROUP BY 1, 2),
        |tot AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY doc_id) AS DOUBLE)
        |          AS total FROM tc),
        |dfc AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        | SELECT t.doc_id, t.tok AS term,
        |  (CAST(t.cnt AS DOUBLE) / t.total) *
        |    ln(CAST(n.n_docs AS DOUBLE) / d.df) AS s
        | FROM tot t JOIN dfc d ON t.tok = d.tok CROSS JOIN n),
        |ranked AS (
        | SELECT doc_id, term, s,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term)
        |    AS INTEGER) AS rnk
        | FROM scored)
        |SELECT doc_id, term, rnk, round(s, 4) AS score
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q51_asof_join" ->
      """WITH clicks AS (
        | SELECT event_id, user_id, date_trunc('microsecond', ts) AS ts, value
        | FROM events WHERE event_type = 'click'),
        |purchases AS (
        | SELECT user_id, date_trunc('microsecond', ts) AS ts, value
        | FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts,
        | p.ts AS purchase_ts, p.value AS purchase_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,
    "q52_pivot" ->
      """SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
        | sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
        | sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
        | sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q53_range_join" ->
      """WITH ev AS (
        | SELECT event_id, epoch_us(date_trunc('microsecond', ts)) AS us
        | FROM events)
        |SELECT e.event_id, count(r.event_id) AS n_nearby
        |FROM ev e LEFT JOIN ev r
        |  ON r.event_id != e.event_id AND abs(r.us - e.us) <= 60000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q54_stream_join" ->
      """WITH ev AS (
        | SELECT event_id, user_id, date_trunc('microsecond', ts) AS ts,
        |        event_type, value
        | FROM events)
        |SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        | p.ts AS purchase_ts, p.value AS purchase_value
        |FROM ev c JOIN ev p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND p.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
        |ORDER BY 1, 4""".stripMargin,
    "q55_balanced_sample" ->
      """WITH ranked AS (
        | SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY ((doc_id & 2147483647) * 2654435761) % 1000000007, doc_id) AS rn
        | FROM documents)
        |SELECT doc_id, lang FROM ranked WHERE rn <= 50
        |ORDER BY doc_id""".stripMargin,
    "q56_curation" ->
      s"""WITH tc AS (
        | SELECT doc_id, tok, count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)
        | GROUP BY 1, 2),
        |quality AS (
        | SELECT doc_id FROM (
        |  SELECT doc_id, CAST(sum(cnt) AS INTEGER) AS n_tokens,
        |   CAST(count(*) AS INTEGER) AS distinct_tokens,
        |   CAST(max(cnt) AS INTEGER) AS top_count
        |  FROM tc GROUP BY 1)
        | WHERE n_tokens >= 20
        |  AND 1.0 - CAST(distinct_tokens AS DOUBLE) / n_tokens < 0.6
        |  AND CAST(top_count AS DOUBLE) / n_tokens < 0.15),
        |s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |$reachSql,
        |comp AS (
        | SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        | FROM reach GROUP BY src)
        |SELECT doc_id, lang,
        | CASE WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 80 THEN 'train'
        |      WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents
        |WHERE doc_id IN (SELECT doc_id FROM quality)
        | AND doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
        |ORDER BY doc_id""".stripMargin,
    "q57_ngram_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents)
        |SELECT doc_id,
        | CAST(len(toks) - 1 AS INTEGER) AS n_bigrams,
        | round(1.0 - CAST(len(list_distinct(list_transform(
        |    generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
        |   / (len(toks) - 1), 4) AS dup_bigram_ratio,
        | CAST(len(toks) - 2 AS INTEGER) AS n_trigrams,
        | round(1.0 - CAST(len(list_distinct(list_transform(
        |    generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE)
        |   / (len(toks) - 2), 4) AS dup_trigram_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    "q58_sql_surface" ->
      cosineTop10Sql,
    "q59_approx_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        | TRUE AS approx_p50_ok, TRUE AS approx_p95_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q60_price_stats" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 4) AS price_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 2) AS price_covar,
        | round(stddev_samp(l_extendedprice), 2) AS price_stddev
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q61_decontam" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 4
        |   THEN list_distinct(list_transform(
        |     generate_series(1, len(toks) - 3),
        |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |          || ' ' || toks[i+3]))
        |   ELSE [array_to_string(toks, ' ')] END) AS gram FROM t),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, CAST(count(*) AS INTEGER) AS n_hit_grams
        |FROM g JOIN bench USING (gram)
        |WHERE g.doc_id % 97 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q62_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  ((doc_id & 2147483647) * 2654435761) % 1000000007 AS key FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY key, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS tok_offset
        | FROM t)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, tok_offset,
        | tok_offset // 2048 AS bin, tok_offset % 2048 AS bin_offset
        |FROM o ORDER BY doc_id""".stripMargin,
    "q63_scrub" ->
      """SELECT doc_id,
        | regexp_replace(text,
        |  '(?:https?://\S+|\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b|\b\Qcustomer\E\b|\b\Qvector\E\b)',
        |  '<MASK>', 'g') AS scrubbed,
        | CAST(len(regexp_extract_all(text,
        |  '(?:https?://\S+|\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b|\b\Qcustomer\E\b|\b\Qvector\E\b)'))
        |  AS INTEGER) AS n_masked
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q64_temperature_resample" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |m AS (SELECT min(n_docs) AS min_n FROM c),
        |r AS (SELECT lang, n_docs,
        |  least(CAST(1.0 AS DOUBLE),
        |    sqrt(CAST(min_n AS DOUBLE) / CAST(n_docs AS DOUBLE))) AS rate
        | FROM c, m)
        |SELECT d.lang, r.n_docs, round(r.rate, 4) AS keep_rate,
        | CAST(sum(CASE WHEN ((d.doc_id & 2147483647) * 2654435761) % 1000000
        |       < floor(r.rate * 1000000.0) THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_kept
        |FROM documents d JOIN r USING (lang)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q65_bloom_join" ->
      """SELECT l_returnflag,
        | count(*) AS n_lines,
        | sum(l_quantity) AS total_qty,
        | round(sum(l_extendedprice), 2) AS total_price
        |FROM lineitem
        |WHERE l_suppkey IN (
        |  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q66_inverted_index" ->
      """WITH pairs AS (
        | SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        | FROM documents),
        |r AS (SELECT token, doc_id,
        |  row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        | FROM pairs)
        |SELECT token, count(*) AS df,
        | array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= 20)), ',')
        |  AS postings
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q67_chars_histogram" ->
      """SELECT CAST(least(floor(n_chars / 100), 9) AS BIGINT) AS bucket,
        | CAST(least(floor(n_chars / 100), 9) AS BIGINT) * 100 AS bucket_lo,
        | count(*) AS n_docs,
        | CAST(min(n_chars) AS BIGINT) AS min_chars,
        | CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q68_daily_deltas" ->
      """WITH daily AS (
        | SELECT date_trunc('day', ts) AS day, count(*) AS n_purchases,
        |  round(sum(value), 2) AS day_value
        | FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT day, n_purchases, day_value,
        | lag(day_value, 1) OVER (ORDER BY day) AS prev_value,
        | day_value - lag(day_value, 1) OVER (ORDER BY day) AS delta,
        | (day_value - lag(day_value, 1) OVER (ORDER BY day))
        |   / lag(day_value, 1) OVER (ORDER BY day) * 100.0 AS pct_change
        |FROM daily ORDER BY day""".stripMargin,
    "q69_latest_snapshot" ->
      """WITH r AS (
        | SELECT user_id, event_id, event_type,
        |  date_trunc('microsecond', ts) AS ts, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('microsecond', ts) DESC, event_id DESC) AS rn
        | FROM events)
        |SELECT user_id, event_id, event_type, ts, value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q70_scd2" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |  date_trunc('microsecond', ts) AS ts FROM events),
        |c AS (
        | SELECT user_id, event_id, event_type, ts,
        |  lag(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_type
        | FROM e),
        |f AS (SELECT * FROM c
        |      WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type AS state, ts AS valid_from,
        | lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS valid_to,
        | lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |   AS is_current
        |FROM f ORDER BY user_id, valid_from""".stripMargin,
    // PIT join: q70's version relation interval-joined to purchases —
    // [valid_from, valid_to) semantics; the engine's as-of form picks
    // the same version (right side sorts first on ts ties)
    "q152_pit_join" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type, value,
        |  date_trunc('microsecond', ts) AS ts FROM events),
        |c AS (
        | SELECT user_id, event_id, event_type, ts,
        |  lag(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_type
        | FROM e),
        |f AS (SELECT * FROM c
        |      WHERE prev_type IS NULL OR prev_type <> event_type),
        |v AS (
        | SELECT user_id, event_type AS state, ts AS valid_from,
        |  lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to
        | FROM f)
        |SELECT p.event_id, p.user_id, p.ts, p.value, v.state, v.valid_from
        |FROM e p JOIN v ON p.user_id = v.user_id
        | AND p.ts >= v.valid_from
        | AND (v.valid_to IS NULL OR p.ts < v.valid_to)
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,
    "q71_chunk_spans" ->
      """WITH t AS (
        | SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  (len(string_split(text, ' ')) + 31) // 32 AS n_chunks
        | FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM t)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        | CAST(chunk_idx AS BIGINT) AS chunk_idx,
        | CAST(chunk_idx * 32 AS BIGINT) AS token_start,
        | CAST(least(chunk_idx * 32 + 32, n_tokens) AS BIGINT) AS token_end
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q72_funnel" ->
      """WITH w1 AS (
        | SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1
        | FROM events),
        |w2 AS (
        | SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2
        | FROM w1),
        |w3 AS (
        | SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t3
        | FROM w2),
        |u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
        |      FROM w3 GROUP BY user_id)
        |SELECT stage, users FROM (
        | SELECT 'view' AS stage, CAST(count(t1) AS BIGINT) AS users FROM u
        | UNION ALL
        | SELECT 'view_click', CAST(count(t2) AS BIGINT) FROM u
        | UNION ALL
        | SELECT 'view_click_purchase', CAST(count(t3) AS BIGINT) FROM u)
        |ORDER BY stage""".stripMargin,
    "q73_retention" ->
      """WITH ud AS (
        | SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        | FROM events),
        |c AS (SELECT user_id, min(day) OVER (PARTITION BY user_id) AS cohort_day,
        |      day FROM ud)
        |SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS BIGINT)
        |  AS day_offset, CAST(count(*) AS BIGINT) AS users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q74_moving_avg" ->
      """WITH daily AS (
        | SELECT event_type, date_trunc('day', ts) AS day,
        |  round(sum(value), 2) AS day_value,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day_num
        | FROM events GROUP BY 1, 2)
        |SELECT event_type, day, day_value,
        | round(sum(day_value) OVER w / count(*) OVER w, 4) AS avg_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "q75_revenue_quartiles" ->
      """WITH rev AS (
        | SELECT c_custkey,
        |  round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_custkey)
        |SELECT c_custkey, revenue,
        | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        | percent_rank() OVER w AS pct_rank
        |FROM rev WINDOW w AS (ORDER BY revenue DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q76_sketch_rollup" ->
      """SELECT event_type,
        | CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        | count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q77_variant_props" ->
      """SELECT CAST(floor(CAST(json_extract(props, '$.k') AS INTEGER) / 10)
        |   AS INTEGER) AS k_decile,
        | count(*) AS event_count, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q78_tws_spend" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q79_value_outliers" ->
      """WITH m AS (
        | SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        | FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value, round((value - mu) / sd, 4) AS z
        |FROM events e JOIN m USING (event_type)
        |WHERE abs(value - mu) > 3 * sd
        |ORDER BY event_id""".stripMargin,
    "q80_datacard" ->
      s"""WITH tc AS (
        | SELECT doc_id, tok, count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)
        | GROUP BY 1, 2),
        |quality AS (
        | SELECT doc_id FROM (
        |  SELECT doc_id, CAST(sum(cnt) AS INTEGER) AS n_tokens,
        |   CAST(count(*) AS INTEGER) AS distinct_tokens,
        |   CAST(max(cnt) AS INTEGER) AS top_count
        |  FROM tc GROUP BY 1)
        | WHERE n_tokens >= 20
        |  AND 1.0 - CAST(distinct_tokens AS DOUBLE) / n_tokens < 0.6
        |  AND CAST(top_count AS DOUBLE) / n_tokens < 0.15),
        |s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |$reachSql,
        |comp AS (
        | SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        | FROM reach GROUP BY src),
        |kept AS (
        | SELECT doc_id FROM documents
        | WHERE doc_id IN (SELECT doc_id FROM quality)
        |  AND doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id))
        |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM kept)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
        | round(CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM kept)
        |           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS keep_rate
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q81_merge_upsert" ->
      """WITH tgt AS (
        | SELECT user_id, event_type AS last_type, value AS last_value
        | FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |         ORDER BY ts DESC, event_id DESC) AS r
        |       FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00')
        | WHERE r = 1),
        |chg AS (
        | SELECT user_id, event_type AS last_type, value AS last_value
        | FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |         ORDER BY ts DESC, event_id DESC) AS r
        |       FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
        | WHERE r = 1)
        |SELECT coalesce(c.user_id, t.user_id) AS user_id,
        | CASE WHEN c.user_id IS NOT NULL THEN c.last_type
        |      ELSE t.last_type END AS last_type,
        | CASE WHEN c.user_id IS NOT NULL THEN c.last_value
        |      ELSE t.last_value END AS last_value
        |FROM tgt t FULL OUTER JOIN chg c ON t.user_id = c.user_id
        |ORDER BY user_id""".stripMargin,
    "q82_fuzzy_match" ->
      """WITH probes AS (
        | SELECT p_partkey AS probe_key,
        |  substr(p_name, 1, 2) || substr(p_name, 4) AS probe_name
        | FROM part WHERE p_partkey % 23 = 5)
        |SELECT probe_key, probe_name, p_partkey AS match_key,
        | p_name AS match_name,
        | CAST(levenshtein(probe_name, p_name) AS INTEGER) AS dist
        |FROM probes JOIN part ON levenshtein(probe_name, p_name) <= 2
        |ORDER BY probe_key, match_key""".stripMargin,
    "q83_heavy_hitters" ->
      """SELECT event_type, count(*) AS est_count
        |FROM events GROUP BY event_type
        |ORDER BY est_count DESC, event_type""".stripMargin,
    "q84_quantize_int8" ->
      """WITH v AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        | FROM embeddings),
        |s AS (
        | SELECT vec_id, ve,
        |  list_max(list_transform(ve, x -> abs(x))) / 127 AS scale
        | FROM v),
        |q AS (
        | SELECT vec_id, ve, scale,
        |  list_transform(ve, x -> CAST(round(x / scale) AS INTEGER)) AS qv
        | FROM s)
        |SELECT vec_id, scale,
        | list_max(list_transform(generate_series(1, len(ve)),
        |   i -> abs(CAST(qv[i] AS DOUBLE) * scale - ve[i]))) AS max_abs_err,
        | CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INTEGER)
        |   AS n_saturated
        |FROM q ORDER BY vec_id""".stripMargin,
    "q85_incremental_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS total_spend
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q86_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(min($c) AS DOUBLE) AS min_value,
           | CAST(max($c) AS DOUBLE) AS max_value,
           | round(avg($c), 4) AS avg_value
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_totalprice").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    "q87_constraints" ->
      """SELECT 'customer_pk_unique' AS constraint_name,
        | CAST(count(*) AS BIGINT) AS n_violations
        |FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'events_value_nonnegative', count(*) FROM events WHERE value < 0
        |UNION ALL
        |SELECT 'lineitem_orderkey_fk', count(*)
        |FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey
        |UNION ALL
        |SELECT 'lineitem_quantity_positive', count(*)
        |FROM lineitem WHERE l_quantity <= 0
        |UNION ALL
        |SELECT 'orders_custkey_fk', count(*)
        |FROM orders ANTI JOIN customer ON o_custkey = c_custkey
        |ORDER BY constraint_name""".stripMargin,
    "q88_gap_fill" ->
      """WITH daily AS (
        | SELECT user_id, date_trunc('day', ts) AS day,
        |  round(sum(value), 2) AS day_value
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |bounds AS (SELECT date_trunc('day', min(ts)) AS d0,
        |  date_trunc('day', max(ts)) AS d1 FROM events),
        |calendar AS (
        | SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        | FROM bounds),
        |spine AS (SELECT u.user_id, c.day
        | FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN calendar c)
        |SELECT s.user_id, s.day,
        | last_value(d.day_value IGNORE NULLS) OVER (
        |   PARTITION BY s.user_id ORDER BY s.day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        | d.day_value IS NOT NULL AS is_observed
        |FROM spine s LEFT JOIN daily d
        | ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY s.user_id, s.day""".stripMargin,
    "q89_ab_test" ->
      """SELECT event_type,
        | count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
        | count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n_b,
        | round(avg(CASE WHEN user_id % 2 = 0 THEN value END), 4) AS mean_a,
        | round(avg(CASE WHEN user_id % 2 = 1 THEN value END), 4) AS mean_b,
        | round((avg(CASE WHEN user_id % 2 = 0 THEN value END)
        |        - avg(CASE WHEN user_id % 2 = 1 THEN value END))
        |   / sqrt(var_samp(CASE WHEN user_id % 2 = 0 THEN value END)
        |            / count(CASE WHEN user_id % 2 = 0 THEN 1 END)
        |        + var_samp(CASE WHEN user_id % 2 = 1 THEN value END)
        |            / count(CASE WHEN user_id % 2 = 1 THEN 1 END)), 4)
        |   AS welch_t
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // PageRank mirrored iteration-by-iteration: Graph.pageRank fixes
    // iters=5 / damping=0.85 and rounds to 6dp exactly so a chained-CTE
    // oracle can reproduce it. Double literals are forced with CAST
    // because Scala computes (1.0 - 0.85) in IEEE doubles
    // (= 0.15000000000000002), not decimals.
    "q90_pagerank" -> {
      def iter(k: Int) =
        s"""r$k AS (
           | SELECT n.node,
           |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           |   + CAST(0.85 AS DOUBLE) * coalesce(sum(c.c), CAST(0 AS DOUBLE))
           |   AS rank
           | FROM nodes n CROSS JOIN nn
           | LEFT JOIN (SELECT e.dst AS node, r.rank / d.out_deg AS c
           |            FROM r${k - 1} r JOIN deg d ON r.node = d.src
           |            JOIN edges e ON e.src = d.src) c
           |  ON n.node = c.node
           | GROUP BY n.node, nn.n)""".stripMargin
      s"""WITH sh AS (
        |$shinglesSql),
        |pairs AS (
        | SELECT a.doc_id AS da, b.doc_id AS db
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |          UNION SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
        |       FROM nodes CROSS JOIN nn),
        |""".stripMargin +
        (1 to 5).map(iter).mkString(",\n") +
        "\nSELECT node AS doc_id, round(rank, 6) AS rank FROM r5 ORDER BY doc_id"
    },
    "q91_shard_manifest" ->
      """SELECT CAST(((doc_id & 2147483647) * 2654435761) % 8 AS INTEGER) AS shard,
        | count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q92_salted_join" ->
      """SELECT s_nationkey,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q93_zorder_roundtrip" ->
      """SELECT count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price,
        | min(o_orderkey) AS min_key
        |FROM orders
        |WHERE o_custkey < 1000 AND o_totalprice > 150000.0""".stripMargin,
    // compaction is a physical rewrite: the relation must be untouched
    "q153_compaction" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q94_unigram_surprisal" ->
      """WITH tc AS (
        | SELECT doc_id, tok, count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)
        | GROUP BY 1, 2),
        |g AS (SELECT tok, sum(cnt) AS tf FROM tc GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS corpus_tokens FROM tc)
        |SELECT doc_id, CAST(sum(cnt) AS INTEGER) AS n_tokens,
        | round(-sum(CAST(cnt AS DOUBLE) *
        |            log2(CAST(tf AS DOUBLE) / corpus_tokens))
        |       / CAST(sum(cnt) AS DOUBLE), 4) AS avg_surprisal
        |FROM tc JOIN g USING (tok) CROSS JOIN t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q95_wire_roundtrip" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS region_id,
        | count(*) AS n_nations,
        | min(n_name) AS first_nation
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,
    "q96_two_phase_agg" ->
      """SELECT l_returnflag, sum(l_quantity) AS total_qty,
        | count(*) AS n_lines, max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q97_knn_join" -> knnJoinOracle,
    "q98_event_transitions" ->
      """WITH t AS (
        | SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('microsecond', ts), event_id) AS prev_type
        | FROM events)
        |SELECT prev_type, event_type, count(*) AS n_transitions,
        | count(DISTINCT user_id) AS n_users
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q99_bigram_surprisal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |bc0 AS (
        | SELECT doc_id, unnest(list_transform(
        |   generate_series(1, len(toks) - 1),
        |   i -> toks[i] || ' ' || toks[i+1])) AS bg
        | FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bc0 GROUP BY 1, 2),
        |g AS (SELECT bg, sum(cnt) AS bf FROM bc GROUP BY 1),
        |tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS corpus_bigrams FROM bc)
        |SELECT doc_id, CAST(sum(cnt) AS INTEGER) AS n_bigrams,
        | round(-sum(CAST(cnt AS DOUBLE) *
        |            log2(CAST(bf AS DOUBLE) / corpus_bigrams))
        |       / CAST(sum(cnt) AS DOUBLE), 4) AS avg_surprisal
        |FROM bc JOIN g USING (bg) CROSS JOIN tt
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // CCNet terciles: q94 + q99's LM relations (4dp-rounded, the proven
    // portable surface), summed (exact 4dp — no mean-rounding tie),
    // globally ranked on (score, doc_id), tercile by pure arithmetic
    "q141_perplexity_buckets" ->
      """WITH tc AS (
        | SELECT doc_id, tok, count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)
        | GROUP BY 1, 2),
        |g AS (SELECT tok, sum(cnt) AS tf FROM tc GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS corpus_tokens FROM tc),
        |uni AS (
        | SELECT doc_id,
        |  round(-sum(CAST(cnt AS DOUBLE) *
        |             log2(CAST(tf AS DOUBLE) / corpus_tokens))
        |        / CAST(sum(cnt) AS DOUBLE), 4) AS u
        | FROM tc JOIN g USING (tok) CROSS JOIN t GROUP BY doc_id),
        |tt0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bc0 AS (
        | SELECT doc_id, unnest(list_transform(
        |   generate_series(1, len(toks) - 1),
        |   i -> toks[i] || ' ' || toks[i+1])) AS bg
        | FROM tt0 WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bc0 GROUP BY 1, 2),
        |gb AS (SELECT bg, sum(cnt) AS bf FROM bc GROUP BY 1),
        |tb AS (SELECT CAST(sum(cnt) AS DOUBLE) AS corpus_bigrams FROM bc),
        |bi AS (
        | SELECT doc_id,
        |  round(-sum(CAST(cnt AS DOUBLE) *
        |             log2(CAST(bf AS DOUBLE) / corpus_bigrams))
        |        / CAST(sum(cnt) AS DOUBLE), 4) AS b
        | FROM bc JOIN gb USING (bg) CROSS JOIN tb GROUP BY doc_id),
        |sc AS (
        | SELECT uni.doc_id, u + coalesce(b, u) AS score
        | FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id),
        |rk AS (
        | SELECT doc_id, score,
        |  row_number() OVER (ORDER BY score, doc_id) AS r,
        |  count(*) OVER () AS n
        | FROM sc)
        |SELECT doc_id, round(score, 4) AS score,
        | CASE WHEN CAST(3 * (r - 1) AS DOUBLE) / n < 1 THEN 'head'
        |      WHEN CAST(3 * (r - 1) AS DOUBLE) / n < 2 THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |FROM rk ORDER BY doc_id""".stripMargin,
    // PMI collocations: q99's bigram counts + q94's unigram counts,
    // identical division/log2 op order, count floor replicated
    "q147_collocations" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |bc0 AS (
        | SELECT doc_id, unnest(list_transform(
        |   generate_series(1, len(toks) - 1),
        |   i -> toks[i] || ' ' || toks[i+1])) AS bg
        | FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bc0 GROUP BY 1, 2),
        |bf AS (SELECT bg, CAST(sum(cnt) AS BIGINT) AS n FROM bc GROUP BY 1),
        |totb AS (SELECT CAST(sum(n) AS DOUBLE) AS tb FROM bf),
        |tc AS (
        | SELECT doc_id, tok, count(*) AS cnt
        | FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        | GROUP BY 1, 2),
        |tf AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS tf FROM tc GROUP BY 1),
        |tott AS (SELECT CAST(sum(tf) AS DOUBLE) AS tt FROM tf),
        |p AS (
        | SELECT b.bg, b.n,
        |  log2((CAST(b.n AS DOUBLE) / totb.tb) /
        |   ((CAST(ta.tf AS DOUBLE) / tott.tt) *
        |    (CAST(tb2.tf AS DOUBLE) / tott.tt))) AS pmi
        | FROM bf b
        |  JOIN tf ta ON ta.tok = string_split(b.bg, ' ')[1]
        |  JOIN tf tb2 ON tb2.tok = string_split(b.bg, ' ')[2]
        |  , totb, tott
        | WHERE b.n >= 5),
        |r AS (SELECT bg, n, pmi,
        |  row_number() OVER (ORDER BY pmi DESC, bg) AS rk FROM p)
        |SELECT bg AS bigram, n, round(pmi, 4) AS pmi
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    // equi-depth: the same integer-div bucket arithmetic over the same
    // (value, key) rank order — `//` here, `div` in the engine (a double
    // divide + int cast would diverge: Spark truncates, DuckDB rounds)
    "q148_equidepth_hist" ->
      """WITH r AS (
        | SELECT o_totalprice AS v,
        |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rank,
        |  count(*) OVER () AS n
        | FROM orders)
        |SELECT CAST(((rank - 1) * 10) // n AS INTEGER) AS bucket,
        | min(v) AS lo, max(v) AS hi, CAST(count(*) AS BIGINT) AS n_rows
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // coverage curve: rank by (freq desc, tok), running mass window,
    // probe ks via scalar subquery; k beyond vocab covers everything
    "q149_vocab_coverage" ->
      """WITH tc AS (
        | SELECT doc_id, tok, count(*) AS cnt
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)
        | GROUP BY 1, 2),
        |tf AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS f FROM tc GROUP BY 1),
        |tot AS (SELECT CAST(sum(f) AS DOUBLE) AS tt FROM tf),
        |r AS (SELECT tok, f,
        |  row_number() OVER (ORDER BY f DESC, tok) AS rank FROM tf),
        |c AS (SELECT rank,
        |  sum(f) OVER (ORDER BY rank
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM r),
        |ks AS (SELECT unnest([10, 20, 50, 100]) AS vocab_k)
        |SELECT vocab_k,
        | round(coalesce(
        |   (SELECT CAST(cum AS DOUBLE) FROM c WHERE rank = vocab_k), tt)
        |  / tt, 4) AS coverage
        |FROM ks, tot ORDER BY vocab_k""".stripMargin,
    // confusion matrix over q24's oracle-replicated langid heuristic
    "q150_langid_confusion" ->
      """WITH scored AS (
        | SELECT doc_id, lang,
        |  length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
        |  len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) AS s_en,
        |  len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('le','la','et','les','des','un','une','est','dans','que'))) AS s_fr,
        |  len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('el','la','de','que','y','los','las','es','en','un'))) AS s_es,
        |  len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('der','die','und','das','ist','ein','eine','nicht','mit','den'))) AS s_de
        | FROM documents),
        |pred AS (
        | SELECT lang,
        |  CASE WHEN cjk > 0 THEN 'zh'
        |       WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
        |       WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
        |       ELSE 'de' END AS predicted
        | FROM scored)
        |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q100_weighted_sample" ->
      """WITH m AS (SELECT CAST(max(n_chars) AS DOUBLE) AS max_chars
        |           FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(CASE WHEN ((doc_id & 2147483647) * 2654435761) % 1000000
        |   < floor(CAST(n_chars AS DOUBLE) / max_chars * 0.5 * 1000000.0)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN ((doc_id & 2147483647) * 2654435761) % 1000000
        |   < floor(CAST(n_chars AS DOUBLE) / max_chars * 0.5 * 1000000.0)
        |   THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM documents, m GROUP BY 1 ORDER BY 1""".stripMargin,
    // exhaustive-regime indexed ANN join ≡ exact kNN join: same oracle
    "q101_ivf_knn_join" -> knnJoinOracle,
    // shuffle-regime exhaustive indexed join ≡ exact kNN join: same oracle
    "q128_ivf_shuffle_knn" -> knnJoinOracle,
    // RRF hybrid: the q110 BM25 list and the q113 cosine list (both at
    // fuseK=20, ranked on their ROUNDED scores with id tie-breaks —
    // exactly what the engine ranks), full-outer merged, 1/(60+rank)
    // summed in double (CAST — DuckDB's bare 1.0 is DECIMAL and its
    // division would diverge from Spark's double at the 6th dp)
    "q129_hybrid_rrf" ->
      raw"""WITH $bm25StatsSql,
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS cnt FROM toks
        |       WHERE tok IN ('spark', 'query', 'join') GROUP BY 1, 2),
        |dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |bm AS (
        | SELECT t.doc_id,
        |  round(sum(ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
        |    * (t.cnt * (1.2 + 1.0))
        |    / (t.cnt + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl))), 4) AS bm25
        | FROM tf t JOIN dfreq d USING (tok) JOIN lens l USING (doc_id), st
        | GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20),
        |lex AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
        |    AS lex_rank FROM bm),
        |q AS (SELECT embedding AS q_emb FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id = 0),
        |cs AS (
        | SELECT vec_id,
        |  round(list_inner_product(embedding, q_emb)
        |    / (sqrt(list_inner_product(embedding, embedding))
        |       * sqrt(list_inner_product(q_emb, q_emb))), 4) AS cos_sim
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings, q WHERE vec_id <> 0
        | ORDER BY cos_sim DESC, vec_id LIMIT 20),
        |sem AS (SELECT vec_id AS doc_id,
        |  CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS INTEGER)
        |    AS sem_rank FROM cs)
        |SELECT doc_id, lex_rank, sem_rank,
        | round(COALESCE(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0.0)
        |   + COALESCE(CAST(1.0 AS DOUBLE) / (60 + sem_rank), 0.0), 6) AS rrf
        |FROM lex FULL OUTER JOIN sem USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    // two-stage quantized rerank: stage-1 cosine of the q84-form int8
    // vector (scale cancels; qv and the query both widened to double —
    // the exact widening Spark applies), top-50 cut on the rounded
    // score, stage-2 exact cosine re-rank in the raw-float q113 form
    "q130_quantized_rerank" ->
      """WITH q0 AS (
        | SELECT embedding AS q_emb,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id = 0),
        |v AS (
        | SELECT vec_id, label, embedding,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id <> 0),
        |s AS (
        | SELECT vec_id, label, embedding, ve,
        |  list_max(list_transform(ve, x -> abs(x))) / 127 AS scale
        | FROM v),
        |qz AS (
        | SELECT vec_id, label, embedding,
        |  list_transform(ve, x -> CAST(round(x / scale) AS DOUBLE)) AS qv
        | FROM s),
        |approx AS (
        | SELECT vec_id, label, embedding,
        |  round(list_inner_product(qv, qe)
        |    / (sqrt(list_inner_product(qv, qv))
        |       * sqrt(list_inner_product(qe, qe))), 4) AS approx_cos
        | FROM qz, q0),
        |cand AS (
        | SELECT * FROM approx ORDER BY approx_cos DESC, vec_id LIMIT 50)
        |SELECT vec_id, label, approx_cos,
        | round(list_inner_product(embedding, q_emb)
        |   / (sqrt(list_inner_product(embedding, embedding))
        |      * sqrt(list_inner_product(q_emb, q_emb))), 4) AS cos_sim
        |FROM cand, q0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // mixture sampling: same masked-multiplicative-hash membership as
    // q100; weights CAST to DOUBLE (DuckDB's bare 0.4 is DECIMAL and
    // its arithmetic would diverge from Spark's double rates)
    "q131_mixture_sample" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        | FROM documents),
        |m AS (
        | SELECT source, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS avail_tokens
        | FROM t GROUP BY 1),
        |w AS (SELECT * FROM (VALUES
        |  ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        |  ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(1.5 AS DOUBLE)))
        |  w(source, tw)),
        |r AS (
        | SELECT m.source, m.n_docs, m.avail_tokens,
        |  COALESCE(w.tw, CAST(0.0 AS DOUBLE)) AS target_w,
        |  least(CAST(1.0 AS DOUBLE),
        |    CAST(2000 AS DOUBLE) * COALESCE(w.tw, CAST(0.0 AS DOUBLE))
        |      / CAST(m.avail_tokens AS DOUBLE)) AS rate
        | FROM m LEFT JOIN w USING (source))
        |SELECT r.source, r.n_docs, r.avail_tokens,
        | round(r.target_w, 4) AS target_w, round(r.rate, 6) AS rate,
        | CAST(sum(CASE WHEN ((t.doc_id & 2147483647) * 2654435761) % 1000000
        |   < floor(r.rate * 1000000.0) THEN 1 ELSE 0 END) AS BIGINT)
        |   AS kept_docs,
        | CAST(sum(CASE WHEN ((t.doc_id & 2147483647) * 2654435761) % 1000000
        |   < floor(r.rate * 1000000.0) THEN t.toks ELSE 0 END) AS BIGINT)
        |   AS kept_tokens
        |FROM t JOIN r USING (source)
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1""".stripMargin,
    // drained exhaustive stream ≡ exact kNN join: same oracle as q97/q101
    "q116_stream_ann_enrich" -> knnJoinOracle,
    // id-ordered triple enumeration: each triangle {a<b<c} appears once
    // as pairs (a,b), (b,c), (a,c); the engine's degree-ordered census
    // must produce identical per-node counts
    "q102_triangles" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |tri AS (
        | SELECT p1.doc_a AS a, p1.doc_b AS b, p2.doc_b AS c
        | FROM pairs p1
        | JOIN pairs p2 ON p2.doc_a = p1.doc_b
        | JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
        |n AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
        |SELECT doc_id, count(*) AS n_triangles
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    "q103_incremental_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS total_revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q104_neardup_join" ->
      s"""WITH s AS (
        |$shinglesSql)
        |SELECT a.doc_id AS probe_id, b.doc_id AS match_id,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
        |ORDER BY probe_id, match_id""".stripMargin,
    "q105_stream_enrich" ->
      """SELECT c_nationkey, count(*) AS n_events,
        | round(sum(value), 2) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // index-build roundtrips: the layout read back contains exactly the
    // corpus; completeness/cell-contract booleans are deterministically
    // TRUE (the q38/q59/q76 contract pattern)
    "q106_lsh_index_build" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(sum(vec_id) AS BIGINT) AS sum_ids,
        | TRUE AS all_tables_complete
        |FROM embeddings""".stripMargin,
    // appended layout covers base ∪ delta = the whole table, per table
    "q154_lshincr_index_build" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(sum(vec_id) AS BIGINT) AS sum_ids,
        | TRUE AS all_tables_complete
        |FROM embeddings""".stripMargin,
    "q107_ivf_index_build" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(sum(vec_id) AS BIGINT) AS sum_ids,
        | TRUE AS cells_ok
        |FROM embeddings""".stripMargin,
    "q108_ivf8_index_build" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(sum(vec_id) AS BIGINT) AS sum_ids,
        | TRUE AS cells_ok
        |FROM embeddings""".stripMargin,
    // probed IVF via the exact-companion pattern: the registered rows are
    // the exhaustive top-k (≡ q113's relation); the probed set only feeds
    // the recall_ok contract boolean, deterministically TRUE (seeded
    // k-means over a fixed fixture — measured 5/10 vs the ≥ 3 bound at
    // sf0.01, a 2-hit slack so fixture drift cannot flip the row)
    "q46_embed_ivf" ->
      """WITH q AS (SELECT embedding AS q_emb FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        | round(list_inner_product(embedding, q_emb)
        |   / (sqrt(list_inner_product(embedding, embedding))
        |      * sqrt(list_inner_product(q_emb, q_emb))), 4) AS cos_sim,
        | TRUE AS recall_ok
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // exhaustive IVF ≡ brute force: same oracle as q28
    "q113_ivf_exhaustive" ->
      cosineTop10Sql,
    // exhaustive probe of the incrementally-appended layout ≡ brute
    // force over base ∪ delta = the whole table: q113's oracle relation
    "q140_ivf_append" ->
      cosineTop10Sql,
    "q112_oov_rate" ->
      """WITH tc AS (
        | SELECT doc_id, tok, count(*) AS cnt FROM (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents) GROUP BY 1, 2),
        |vocab AS (
        | SELECT tok FROM (SELECT tok, sum(cnt) AS tf FROM tc GROUP BY 1)
        | ORDER BY tf DESC, tok LIMIT 20)
        |SELECT doc_id, CAST(sum(cnt) AS INTEGER) AS n_tokens,
        | round(CAST(sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
        |   THEN cnt ELSE 0 END) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 4)
        |  AS oov_rate
        |FROM tc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q111_hard_negatives" -> hardNegativesOracle,
    // exhaustive indexed miner ≡ exact miner: same oracle as q111
    "q114_ivf_hard_negatives" -> hardNegativesOracle,
    // Lucene-form BM25; FP op order mirrors Corpus.bm25TopDocs exactly
    // (constants written as the same folded expressions) so the scores
    // hash-compare at 4 dp
    "q110_bm25" ->
      raw"""WITH $bm25StatsSql,
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS cnt FROM toks
        |       WHERE tok IN ('spark', 'query', 'join') GROUP BY 1, 2),
        |dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
        |SELECT t.doc_id,
        | round(sum(ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
        |   * (t.cnt * (1.2 + 1.0))
        |   / (t.cnt + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl))), 4) AS bm25,
        | CAST(count(*) AS INTEGER) AS n_terms
        |FROM tf t JOIN dfreq d USING (tok) JOIN lens l USING (doc_id), st
        |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 10""".stripMargin,
    // per-query BM25 via the same Lucene form; the scored CTE mirrors
    // Corpus.bm25Retrieval's FP op order exactly (shared bm25Rollup
    // expression — constants written as the same folded expressions)
    "q115_bm25_join" ->
      raw"""WITH queries AS (
        | SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), ['spark', 'query', 'join']),
        |  (CAST(1 AS BIGINT), ['stream', 'window', 'batch']),
        |  (CAST(2 AS BIGINT), ['sort', 'merge', 'shuffle'])) q(query_id, terms)),
        |qterms AS (SELECT DISTINCT query_id, unnest(terms) AS tok FROM queries),
        |$bm25StatsSql,
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS cnt FROM toks
        |       WHERE tok IN (SELECT tok FROM qterms) GROUP BY 1, 2),
        |dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |scored AS (
        | SELECT q.query_id, t.doc_id,
        |  round(sum(ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
        |    * (t.cnt * (1.2 + 1.0))
        |    / (t.cnt + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl))), 4) AS bm25,
        |  CAST(count(*) AS INTEGER) AS n_terms
        | FROM tf t JOIN dfreq d USING (tok) JOIN lens l USING (doc_id)
        |      JOIN qterms q USING (tok), st
        | GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, bm25, n_terms,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rk
        | FROM scored)
        |SELECT query_id, rk, doc_id, bm25, n_terms FROM r WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    // chunk retrieval: q115's BM25 relations re-keyed at the chunk grain
    // — zipped unnest gives token positions, (pos-1)//32 the chunk id;
    // chunk lengths and counts are arithmetic over per-doc token counts
    "q145_chunk_retrieval" ->
      """WITH queries AS (
        | SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), ['spark', 'query', 'join']),
        |  (CAST(1 AS BIGINT), ['stream', 'window', 'batch']),
        |  (CAST(2 AS BIGINT), ['sort', 'merge', 'shuffle'])) q(query_id, terms)),
        |qterms AS (SELECT DISTINCT query_id, unnest(terms) AS tok FROM queries),
        |d0 AS (
        | SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        | FROM documents),
        |lens AS (
        | SELECT doc_id, chunk_idx,
        |  CAST(least(32, n - chunk_idx * 32) AS DOUBLE) AS dl
        | FROM (SELECT doc_id, n,
        |   unnest(generate_series(0, (n + 31) // 32 - 1)) AS chunk_idx
        |  FROM d0)),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_chunks, avg(dl) AS avgdl
        |       FROM lens),
        |toks AS (
        | SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |  unnest(generate_series(1, len(string_split_regex(trim(text), '\s+'))))
        |    AS pos
        | FROM documents),
        |tf AS (
        | SELECT doc_id, (pos - 1) // 32 AS chunk_idx, tok,
        |  CAST(count(*) AS DOUBLE) AS cnt
        | FROM toks WHERE tok IN (SELECT tok FROM qterms)
        | GROUP BY 1, 2, 3),
        |dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |scored AS (
        | SELECT q.query_id, t.doc_id, t.chunk_idx,
        |  round(sum(ln(1.0 + (st.n_chunks - d.df + 0.5) / (d.df + 0.5))
        |    * (t.cnt * (1.2 + 1.0))
        |    / (t.cnt + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl))), 4) AS bm25,
        |  CAST(count(*) AS INTEGER) AS n_terms
        | FROM tf t JOIN dfreq d USING (tok)
        |      JOIN lens l USING (doc_id, chunk_idx)
        |      JOIN qterms q USING (tok), st
        | GROUP BY 1, 2, 3),
        |r AS (SELECT query_id, doc_id, chunk_idx, bm25, n_terms,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY bm25 DESC, doc_id, chunk_idx) AS INTEGER) AS rk
        | FROM scored)
        |SELECT query_id, rk, doc_id, chunk_idx, bm25, n_terms
        |FROM r WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    // packing report: q62's prefix-sum layout aggregated to the one-row
    // audit; density divides token mass by allocated capacity (docs can
    // overhang their start bin, so straddlers push it marginally past 1)
    "q127_packing_report" ->
      """WITH t AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  ((doc_id & 2147483647) * 2654435761) % 1000000007 AS key FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY key, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS tok_offset
        | FROM t)
        |SELECT CAST(max(tok_offset // 2048) + 1 AS BIGINT) AS bins_used,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | CAST(count(*) FILTER (WHERE tok_offset % 2048 + n_tokens > 2048)
        |   AS INTEGER) AS n_straddling,
        | round(CAST(sum(n_tokens) AS DOUBLE)
        |   / ((max(tok_offset // 2048) + 1) * 2048), 4) AS density
        |FROM o""".stripMargin,
    // multi-bench decontam: q61's gram grammar (distinct 4-grams, whole
    // text for sub-4-token docs), per-suite tagged build side
    "q126_decontam_many" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 4
        |   THEN list_distinct(list_transform(
        |     generate_series(1, len(toks) - 3),
        |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |          || ' ' || toks[i+3]))
        |   ELSE [array_to_string(toks, ' ')] END) AS gram FROM t),
        |bench AS (
        | SELECT 'evalA' AS eval_set, gram FROM (
        |  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        | UNION ALL
        | SELECT 'evalB', gram FROM (
        |  SELECT DISTINCT gram FROM g WHERE doc_id % 89 = 0))
        |SELECT g.doc_id, b.eval_set, CAST(count(*) AS INTEGER) AS n_hit_grams
        |FROM g JOIN bench b USING (gram)
        |WHERE g.doc_id % 97 <> 0 AND g.doc_id % 89 <> 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // top quality per group: rank on the UNROUNDED bit-portable quality
    // (ties by doc_id), display rounded — the q23 arithmetic verbatim
    "q125_top_quality" ->
      """WITH q AS (
        | SELECT doc_id, lang,
        |  0.4 * least(len(string_split(text, ' ')) / 64.0, 1.0)
        |   + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / len(string_split(text, ' ')))
        |   + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |       / length(text)) AS qs
        | FROM documents),
        |r AS (SELECT lang, doc_id, qs,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY qs DESC, doc_id) AS INTEGER) AS rn
        | FROM q)
        |SELECT lang, rn, doc_id, round(qs, 4) AS quality
        |FROM r WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    // zipf report: identical rank tie-break (freq desc, tok) both
    // sides; regr_slope(y=ln f, x=ln rank) is sum-based on each engine
    "q124_zipf_report" ->
      """WITH tf AS (
        | SELECT tok, CAST(count(*) AS BIGINT) AS f
        | FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        | GROUP BY 1),
        |r AS (SELECT tok, f,
        |  row_number() OVER (ORDER BY f DESC, tok) AS rk FROM tf)
        |SELECT count(*) AS vocab_size, CAST(sum(f) AS BIGINT) AS total_tokens,
        | round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 4)
        |   AS zipf_slope,
        | round(CAST(sum(CASE WHEN rk <= 10 THEN f ELSE 0 END) AS DOUBLE)
        |   / CAST(sum(f) AS DOUBLE), 4) AS top10_coverage
        |FROM r""".stripMargin,
    // stream near-dup gate: brute-force bipartite jaccard join over the
    // same probe/corpus id cut, per-probe verdict aggregation
    "q123_stream_neardup_gate" ->
      s"""WITH s AS (
        |$shinglesSql),
        |probe AS (SELECT * FROM s WHERE doc_id < 50),
        |corp AS (SELECT * FROM s WHERE doc_id >= 50),
        |hits AS (
        | SELECT p.doc_id, round(CAST(len(list_intersect(p.sh, c.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(p.sh, c.sh))), 4) AS j
        | FROM probe p JOIN corp c
        |  ON CAST(len(list_intersect(p.sh, c.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(p.sh, c.sh))) >= 0.8)
        |SELECT p.doc_id, (count(h.j) = 0) AS admitted,
        | CAST(count(h.j) AS INTEGER) AS n_dups, max(h.j) AS max_jaccard
        |FROM probe p LEFT JOIN hits h ON p.doc_id = h.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // embedding diversity: per-(label, dim) var_pop summed; both
    // engines' variance aggregates agree well inside the round(4)
    "q122_embedding_diversity" ->
      """WITH ex AS (
        | SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
        |pd AS (SELECT label, pos, var_pop(v) AS v FROM ex GROUP BY 1, 2),
        |sp AS (SELECT label, round(sum(v), 4) AS spread FROM pd GROUP BY 1),
        |st AS (SELECT label, count(*) AS n_members,
        |  round(avg(sqrt(list_inner_product(embedding, embedding))), 4) AS avg_norm
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings GROUP BY 1)
        |SELECT st.label, st.n_members, st.avg_norm, sp.spread
        |FROM st JOIN sp USING (label) ORDER BY label""".stripMargin,
    // quality tiers: q23's bit-portable quality arithmetic banded at
    // fixed thresholds (no FP caveat — the score matches exactly)
    "q121_quality_tiers" ->
      """WITH q AS (
        | SELECT len(string_split(text, ' ')) AS n_toks,
        |  0.4 * least(len(string_split(text, ' ')) / 64.0, 1.0)
        |   + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / len(string_split(text, ' ')))
        |   + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |       / length(text)) AS quality
        | FROM documents)
        |SELECT CASE WHEN quality < 0.65 THEN '1_low'
        |            WHEN quality < 0.74 THEN '2_mid'
        |            ELSE '3_high' END AS tier,
        | count(*) AS n_docs,
        | CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        | round(avg(quality), 4) AS avg_quality
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    // source duplication matrix: q26's pairs joined to source metadata
    // on both endpoints, (least, greatest)-normalized cells
    "q120_source_dup_matrix" ->
      s"""WITH s AS (
        |$shinglesSql),
        |pairs AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
        |SELECT least(da.source, db.source) AS source_a,
        | greatest(da.source, db.source) AS source_b,
        | CAST(count(*) AS INTEGER) AS n_pairs,
        | round(avg(p.jaccard), 4) AS avg_jaccard
        |FROM pairs p
        | JOIN documents da ON p.doc_a = da.doc_id
        | JOIN documents db ON p.doc_b = db.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // leakage audit: q26's exact-jaccard pairs crossed with q49's
    // masked-hash split; max over the ROUNDED jaccard on both sides
    "q119_leakage_audit" ->
      s"""WITH s AS (
        |$shinglesSql),
        |pairs AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |sym AS (
        | SELECT doc_a AS doc_id, doc_b AS partner, jaccard FROM pairs
        | UNION ALL SELECT doc_b, doc_a, jaccard FROM pairs),
        |sp AS (
        | SELECT doc_id,
        |  CASE WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 80 THEN 'train'
        |       WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents)
        |SELECT sym.doc_id, sp1.split, CAST(count(*) AS INTEGER) AS n_leaks,
        | max(sym.jaccard) AS max_jaccard
        |FROM sym JOIN sp sp1 ON sym.doc_id = sp1.doc_id
        | JOIN sp sp2 ON sym.partner = sp2.doc_id
        |WHERE sp1.split <> 'train' AND sp2.split = 'train'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // leakage-free split: q119's pair/split machinery with the verdict
    // inverted onto the train side — a train doc near-dupping any
    // val/test doc is flagged dropped
    "q132_leakage_free_split" ->
      s"""WITH s AS (
        |$shinglesSql),
        |$jaccardPairsSql,
        |sym AS (
        | SELECT doc_a AS doc_id, doc_b AS partner FROM pairs
        | UNION ALL SELECT doc_b, doc_a FROM pairs),
        |sp AS (
        | SELECT doc_id,
        |  CASE WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 80 THEN 'train'
        |       WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents),
        |leaky AS (
        | SELECT DISTINCT sym.doc_id
        | FROM sym JOIN sp o ON sym.doc_id = o.doc_id
        |  JOIN sp p ON sym.partner = p.doc_id
        | WHERE o.split = 'train' AND p.split <> 'train')
        |SELECT sp.doc_id, sp.split, (l.doc_id IS NOT NULL) AS dropped
        |FROM sp LEFT JOIN leaky l ON sp.doc_id = l.doc_id
        |ORDER BY 1""".stripMargin,
    // snapshot diff: derive the same "new" snapshot (%13 removed, %17
    // changed, %19 renumbered +1e6) and full-outer join on content hash
    "q133_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents),
        |n AS (
        | SELECT doc_id,
        |  md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END) AS h
        | FROM documents WHERE doc_id % 13 <> 0
        | UNION ALL
        | SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 19 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.h IS NULL THEN 'added'
        |      WHEN n.h IS NULL THEN 'removed'
        |      WHEN o.h = n.h THEN 'unchanged'
        |      ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY 1""".stripMargin,
    // padding waste: 64-wide token-length bins, pad-to-512 cost model
    "q134_padding_waste" ->
      """WITH t AS (
        | SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        | FROM documents),
        |b AS (SELECT n_tok, n_tok // 64 AS bin,
        |  LEAST(n_tok, 512) AS kept FROM t)
        |SELECT bin, count(*) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        | CAST(sum(512 - kept) AS BIGINT) AS pad_waste,
        | CAST(sum(n_tok - kept) AS BIGINT) AS trunc_loss,
        | round(CAST(sum(kept) AS DOUBLE) / (count(*) * 512), 4) AS efficiency
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // embedding health: per-dim stats over the unnested embedding column
    "q135_embedding_health" ->
      """WITH e AS (
        | SELECT CAST(i AS BIGINT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
        | FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i))
        |SELECT dim, count(*) AS n,
        | round(avg(v), 6) AS dim_mean,
        | round(stddev_samp(v), 4) AS dim_std,
        | round(min(v), 6) AS dim_min,
        | round(max(v), 6) AS dim_max,
        | round(avg(CASE WHEN abs(v) < 0.000001 THEN 1.0 ELSE 0.0 END), 4)
        |   AS near_zero_frac
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    // semantic keep-list: q30's portable-plane pair pipeline, q41's
    // recursive-CTE closure, then per-cluster per-dim centroid avg and
    // cosine-to-centroid ranking. Ranking is on the UNROUNDED cosine —
    // the q29/q30 FP-boundary contract applies (ulp-level rank ties are
    // measure-zero for continuous embeddings)
    "q118_semantic_keeplist" ->
      """WITH planes AS (
        | SELECT p, d,
        |  CASE WHEN (CAST(concat('0x', substr(md5(p || ',' || d), 1, 16))
        |    AS UBIGINT) & 1) = 1 THEN 1.0 ELSE -1.0 END AS c
        | FROM range(0, 24) t1(p), range(0, 64) t2(d)),
        |dots AS (
        | SELECT e.vec_id, p.p // 6 AS tbl, p.p % 6 AS bit,
        |  sum(e.embedding[p.d + 1] * p.c) AS dp
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) e, planes p GROUP BY 1, 2, 3),
        |buckets AS (
        | SELECT vec_id, tbl,
        |  sum(CASE WHEN dp >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS bucket
        | FROM dots GROUP BY 1, 2),
        |cand AS (
        | SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        | FROM buckets a JOIN buckets b
        |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |pairs AS (
        | SELECT c.vec_a, c.vec_b
        | FROM cand c
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) ea ON ea.vec_id = c.vec_a
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) eb ON eb.vec_id = c.vec_b
        | WHERE list_inner_product(ea.embedding, eb.embedding)
        |    / (sqrt(list_inner_product(ea.embedding, ea.embedding))
        |       * sqrt(list_inner_product(eb.embedding, eb.embedding))) >= 0.3),
        |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
        |          UNION SELECT vec_b, vec_a FROM pairs),
        |reach AS (
        | WITH RECURSIVE r(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
        | SELECT * FROM r),
        |cl AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
        |       FROM reach GROUP BY src),
        |ex AS (
        | SELECT cl.cluster_id, cl.vec_id, i AS pos,
        |  CAST(e.embedding[i] AS DOUBLE) AS v
        | FROM cl JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) e USING (vec_id),
        |  unnest(generate_series(1, len(e.embedding))) AS t(i)),
        |cent AS (SELECT cluster_id, pos, avg(v) AS mv FROM ex GROUP BY 1, 2),
        |nm AS (SELECT cluster_id, CAST(count(*) AS INTEGER) AS n_members
        |       FROM cl GROUP BY 1),
        |cosc AS (
        | SELECT ex.cluster_id, ex.vec_id,
        |  sum(ex.v * c.mv) / (sqrt(sum(ex.v * ex.v)) * sqrt(sum(c.mv * c.mv))) AS cc
        | FROM ex JOIN cent c ON ex.cluster_id = c.cluster_id AND ex.pos = c.pos
        | GROUP BY 1, 2),
        |rk AS (SELECT cluster_id, vec_id, cc,
        |  CAST(row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY cc DESC, vec_id) AS INTEGER) AS rn
        | FROM cosc)
        |SELECT rk.cluster_id, rk.vec_id, (rk.rn = 1) AS keep, nm.n_members,
        | round(rk.cc, 4) AS cos_centroid
        |FROM rk JOIN nm USING (cluster_id)
        |ORDER BY cluster_id, vec_id""".stripMargin,
    // duplicated-span removal: identical block chunking (1-based
    // inclusive list slice ≡ Spark's truncating slice), cross-document
    // distinct count, FILTERed ordered string_agg for the reassembly
    "q117_dedup_spans" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |blks AS (
        | SELECT doc_id,
        |  CAST(unnest(range(0, CAST(ceil(len(t) / 3.0) AS BIGINT)))
        |    AS INTEGER) AS blk, t
        | FROM toks),
        |sp AS (
        | SELECT doc_id, blk,
        |  array_to_string(t[(blk*3+1):(blk*3+3)], ' ') AS span
        | FROM blks),
        |counts AS (SELECT span, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1),
        |j AS (SELECT sp.doc_id, sp.blk, sp.span, c.nd
        |      FROM sp JOIN counts c USING (span))
        |SELECT d.doc_id,
        | coalesce(string_agg(j.span, ' ' ORDER BY j.blk)
        |   FILTER (WHERE j.nd = 1), '') AS text_clean,
        | count(j.blk) AS n_spans,
        | coalesce(count(j.blk) FILTER (WHERE j.nd > 1), 0) AS n_dropped
        |FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // batch left join over the same 2-hour-cut click domain the streaming
    // query closes itself to — anchored on the per-type maxima, because
    // the pushed-down event-type filters make each side's watermark track
    // its own slice (see purchaseAttributionOuter)
    "q109_stream_outer_join" ->
      """WITH ev AS (
        | SELECT event_id, user_id, date_trunc('microsecond', ts) AS ts,
        |        event_type, value
        | FROM events),
        |mx AS (SELECT least(
        |   max(CASE WHEN event_type = 'click' THEN ts END),
        |   max(CASE WHEN event_type = 'purchase' THEN ts END))
        |  - INTERVAL 2 HOUR AS cutoff FROM ev),
        |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |      FROM ev, mx WHERE event_type = 'click' AND ts <= cutoff),
        |p AS (SELECT user_id AS pu, ts AS purchase_ts, value AS purchase_value
        |      FROM ev WHERE event_type = 'purchase')
        |SELECT click_id, c.user_id AS user_id, click_ts,
        | purchase_ts, purchase_value
        |FROM c LEFT JOIN p ON pu = c.user_id
        | AND purchase_ts BETWEEN click_ts - INTERVAL 1 HOUR AND click_ts
        |ORDER BY 1, 4""".stripMargin
  )

  /** Shared hard-negative-mining oracle (q111 exact path; q114 indexed
    * path in its exhaustive regime — both must produce THIS relation).
    */
  private val hardNegativesOracle: String =
    """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
      |           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id < 5),
      |scored AS (
      | SELECT q.q_id, e.vec_id, e.label AS neg_label,
      |  round(list_inner_product(e.embedding, q.q_emb)
      |    / (sqrt(list_inner_product(e.embedding, e.embedding))
      |       * sqrt(list_inner_product(q.q_emb, q.q_emb))), 4) AS cos_sim
      | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) e, q WHERE e.vec_id <> q.q_id AND e.label <> q.q_label),
      |r AS (SELECT q_id, vec_id, neg_label, cos_sim,
      |  CAST(row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rk
      | FROM scored)
      |SELECT q_id, rk, vec_id, neg_label, cos_sim FROM r WHERE rk <= 3
      |ORDER BY q_id, rk""".stripMargin

  /** q29's full LSH probe recomputation (portable md5-bit planes, 4
    * tables × 8 bits, Hamming-1 multiprobe, exact-cosine re-rank) —
    * shared by q29 (built layout) and q151 (appended layout): the two
    * layouts are identical relations, so one oracle gates both.
    */
  private val lshTopkOracle: String =
    """WITH planes AS (
      | SELECT p, d,
      |  CASE WHEN (CAST(concat('0x', substr(md5(p || ',' || d), 1, 16))
      |    AS UBIGINT) & 1) = 1 THEN 1.0 ELSE -1.0 END AS c
      | FROM range(0, 32) t1(p), range(0, 64) t2(d)),
      |dots AS (
      | SELECT e.vec_id, p.p // 8 AS tbl, p.p % 8 AS bit,
      |  sum(e.embedding[p.d + 1] * p.c) AS dp
      | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) e, planes p GROUP BY 1, 2, 3),
      |buckets AS (
      | SELECT vec_id, tbl,
      |  sum(CASE WHEN dp >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS bucket
      | FROM dots GROUP BY 1, 2),
      |qb AS (SELECT tbl, bucket FROM buckets WHERE vec_id = 0),
      |probes AS (
      | SELECT DISTINCT qb.tbl,
      |  xor(qb.bucket, CASE WHEN f.f = 0 THEN 0
      |    ELSE CAST(1 AS BIGINT) << (f.f - 1) END) AS bucket
      | FROM qb, range(0, 9) f(f)),
      |cand AS (
      | SELECT DISTINCT b.vec_id
      | FROM buckets b JOIN probes pr ON b.tbl = pr.tbl AND b.bucket = pr.bucket
      | WHERE b.vec_id <> 0),
      |q AS (SELECT embedding AS q_emb FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id = 0)
      |SELECT e.vec_id, e.label,
      | round(list_inner_product(e.embedding, q_emb)
      |   / (sqrt(list_inner_product(e.embedding, e.embedding))
      |      * sqrt(list_inner_product(q_emb, q_emb))), 4) AS cos_sim
      |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) e JOIN cand USING (vec_id), q
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** Shared exact-kNN-join oracle (q97 exact path; q101 indexed path in
    * its exhaustive regime — both must produce THIS relation).
    */
  private val knnJoinOracle: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
      |           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) embeddings WHERE vec_id < 5),
      |scored AS (
      | SELECT q.q_id, e.vec_id,
      |  round(list_inner_product(e.embedding, q.q_emb)
      |    / (sqrt(list_inner_product(e.embedding, e.embedding))
      |       * sqrt(list_inner_product(q.q_emb, q.q_emb))), 4) AS cos_sim
      | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings) e, q WHERE e.vec_id <> q.q_id),
      |r AS (SELECT q_id, vec_id, cos_sim,
      |  CAST(row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rk
      | FROM scored)
      |SELECT q_id, rk, vec_id, cos_sim FROM r WHERE rk <= 3
      |ORDER BY q_id, rk""".stripMargin

  /** Oracle of q17's cube rollup and of q32's stream drain: the same
    * (hour, type) counts and sums. */
  private val eventsHourlyOracle: String =
    """SELECT date_trunc('hour', ts) AS event_hour, event_type,
      | count(*) AS event_count, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Oracle of q160's batch expansion and of q163's stream: the sliding
    * 7d/1d windows with >= 1 event are exactly the trailing win_days. */
  private val activeUsers7dOracle: String =
    """WITH ud AS (
      | SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |x AS (
      | SELECT user_id, unnest(generate_series(day, day + INTERVAL 6 DAY,
      |   INTERVAL 1 DAY)) AS win_day FROM ud)
      |SELECT win_day, count(DISTINCT user_id) AS active_7d
      |FROM x GROUP BY win_day ORDER BY win_day""".stripMargin

  /** Oracle of q170's batch merge and of q175's stream: the stream
    * collapses the same log to the same latest ops and merges through the
    * same code path. */
  private val cdcApplyOracle: String =
    """WITH before AS (
      | SELECT user_id, event_type AS last_type, value AS last_value,
      |  row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
      |snap AS (SELECT user_id, last_type, last_value FROM before WHERE rn = 1),
      |logx AS (
      | SELECT user_id, event_type, value,
      |  row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
      |op AS (SELECT user_id, event_type, value, event_type = 'error' AS del
      |       FROM logx WHERE rn = 1)
      |SELECT COALESCE(s.user_id, o.user_id) AS user_id,
      | CASE WHEN o.user_id IS NOT NULL THEN o.event_type
      |      ELSE s.last_type END AS last_type,
      | CASE WHEN o.user_id IS NOT NULL THEN o.value
      |      ELSE s.last_value END AS last_value
      |FROM snap s FULL OUTER JOIN op o ON s.user_id = o.user_id
      |WHERE NOT COALESCE(o.del, false)
      |ORDER BY user_id""".stripMargin
}
