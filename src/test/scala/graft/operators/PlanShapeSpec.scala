package graft

import graft.SparkFunSuite

/** Locks in the physical-plan properties the scale design claims — a
  * regression here means an operator silently lost its plan shape (e.g.
  * a range join degrading to a nested loop), which no row-level test
  * would catch at fixture scale.
  */
class PlanShapeSpec extends SparkFunSuite {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materialize so AQE finalizes stages
    df.queryExecution.executedPlan.toString
  }

  test("width rule widens a heavy one-partition stage under its kernel, nothing else") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.functions.{col, size, split, upper}
    val s = spark
    import s.implicits._
    object Plans extends AdaptiveSparkPlanHelper
    val par = spark.sparkContext.defaultParallelism
    val base = (1 to 100).map(i => s"a b $i").toDF("t")
    def kernel(in: DataFrame): DataFrame = in.select(size(split(col("t"), " ")).as("n"))
    def widenings(df: DataFrame): Seq[ShuffleExchangeExec] = {
      df.collect()
      Plans.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }
    }
    val narrow = kernel(base.coalesce(1))
    val ex = widenings(narrow)
    assert(ex.size == 1, "a heavy stage over one partition gets one exchange")
    assert(ex.head.outputPartitioning == RoundRobinPartitioning(par))
    def splits(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      Plans.find(p)(_.expressions.exists(_.exists(_.isInstanceOf[StringSplit]))).isDefined
    assert(splits(narrow.queryExecution.executedPlan) && !splits(ex.head.child),
      "the exchange must sit below the kernel")
    assert(narrow.collect().map(_.getInt(0)).toSet == Set(3))
    // already as wide as the session: left untouched (the 100 TB case)
    assert(widenings(kernel(base.coalesce(par))).isEmpty)
    // cheap per-row work is not worth a shuffle
    assert(widenings(base.coalesce(1).select(upper(col("t")))).isEmpty)
  }

  test("width rule leaves every registered cube query's plans alone") {
    val cubeQueries = Seq("q01_", "q02_", "q03_", "q04_", "q05_", "q06_", "q07_",
      "q08_", "q09_", "q10_", "q17_", "q18_", "q19_", "q20_", "q146_")
      .map(p => SparkEntry.queries.keys.find(_.startsWith(p)).get)
    for (name <- cubeQueries) {
      val n = org.apache.spark.graftplans.PlanCensus.widenings(spark) {
        SparkEntry.queries(name)(spark, sf).collect()
      }
      assert(n == 0, s"$name gained a widening exchange")
    }
  }

  test("width rule widens the kernels the hand-placed guards covered") {
    // a fresh session per query has no memos, so the memo and staging
    // builds that run each kernel execute (and are counted) here
    for (name <- Seq("q150_langid_confusion", "q26_minhash_pairs",
        "q27_simhash_pairs", "q30_embed_neardup", "q122_embedding_diversity",
        "q141_perplexity_buckets", "q302_matryoshka_recall",
        "q309_semantic_decontam", "q311_truncation_ndcg")) {
      val s2 = spark.newSession()
      val n = org.apache.spark.graftplans.PlanCensus.widenings(s2) {
        SparkEntry.queries(name)(s2, sf).collect()
      }
      graft.operators.Scratch.releaseAll(s2)
      graft.operators.Scratch.invalidate(s2)
      assert(n >= 1, s"$name lost the widening exchange under its kernel")
    }
  }

  test("pair-family verification joins stay in the shuffle regime") {
    // Both sides of every candidate-verification join grow with the
    // corpus (pairs x signatures/shingles/set-sizes). AQE's broadcast
    // pick off the COMPRESSED shuffle size under-prices id/hash frames
    // 20x+ -- q27 died at the 100x fixture collecting 1.4 GiB of task
    // results into BroadcastExchange. Par.shuffleJoin pins these joins
    // to the shuffle-hash regime at every scale; this lint keeps them pinned.
    // Build plans: the keyed (memoized) registrations eagerly stage the
    // pair frame in a separate query execution, which would hide the
    // verification joins from the registered query's executed plan —
    // the memo builds below contain every join.
    import org.apache.spark.sql.functions.col
    val docs = new graft.cube.Engine(spark, sf).table("documents")
    def assertShuffleOnly(name: String,
        df: org.apache.spark.sql.DataFrame,
        forecastWidth: Boolean = false): Unit = {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("BroadcastHashJoin"),
        s"$name must not broadcast a corpus-grain join side")
      assert(plan.contains("ShuffledHashJoin") ||
          plan.contains("SortMergeJoin"),
        s"$name lost its verification joins — lint target drifted")
      // postings-pair pipelines must carry the forecast-proportional
      // width as EXPLICIT-count repartitions (REPARTITION_BY_NUM —
      // non-AQE-coalescible): at cores-wide partitioning the pair
      // expansion's map-side agg spill-merge OOM'd an 8 GiB executor
      // (round-15 local-cluster soak, q292 at the 10× fixture)
      if (forecastWidth)
        assert(plan.contains("REPARTITION_BY_NUM"),
          s"$name lost its forecast-width repartitions — the pair " +
            "expansion is back to input-proportional partitioning")
      graft.operators.Scratch.releaseAll(spark)
    }
    assertShuffleOnly("jaccardPairs",
      graft.operators.Dedup.computePairIntersections(docs, 1000),
      forecastWidth = true)
    assertShuffleOnly("minhashPairs",
      graft.operators.Dedup.minhashPairs(docs))
    assertShuffleOnly("simhashPairs",
      graft.operators.Dedup.simhashPairs(docs), forecastWidth = true)
    assertShuffleOnly("minhashJoin",
      graft.operators.Dedup.minhashJoin(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1)))
    assertShuffleOnly("tfidfCosinePairs",
      graft.operators.Corpus.tfidfCosinePairs(docs), forecastWidth = true)
    assertShuffleOnly("dedupSpans",
      graft.operators.Corpus.dedupSpans(docs))
  }

  test("pair expansion width tracks the forecast pair mass, clamped both ways") {
    val s2 = spark.newSession()
    import s2.implicits._
    import graft.operators.Par.{MaxPairWidth, PairsPerPartition}
    val par = s2.sparkContext.defaultParallelism
    assert(par == 4 && PairsPerPartition == 1000000L && MaxPairWidth == 4096)
    // one gram shared by 3606 docs → C(3606,2) = 6,499,815 pairs →
    // ceil(6,499,815 / 1e6) = 7; the input is the per-key df counts frame
    // the pipelines already stage for their maxDf keep-list
    val dfs = Seq(("g1", 3606L)).toDF("g", "__df")
    assert(graft.operators.Par.pairExpansionWidth(dfs, "__df", 5000) == 7)
    // tiny mass clamps UP to the session parallelism (never narrower
    // than the default — the width must not serialize small corpora)
    val tiny = Seq(("g1", 2L)).toDF("g", "__df")
    assert(graft.operators.Par.pairExpansionWidth(tiny, "__df", 5000) == par)
    // hot keys above maxDf are excluded from the forecast exactly as
    // they are excluded from the join itself
    assert(graft.operators.Par.pairExpansionWidth(dfs, "__df", 5) == par)
    // star-degrading buckets (bucketPairs): a bucket over the cap is
    // counted LINEARLY (size − 1 star pairs), not excluded — 3606 docs in
    // one capped bucket forecast 3605 pairs, not 6,499,815 and not 0 —
    // the linear mass clamps up to the session parallelism like any tiny
    // mass
    assert(graft.operators.Par.starPairWidth(dfs, "__df", 5000) == 7)
    assert(graft.operators.Par.starPairWidth(dfs, "__df", 5) == par)
    // the local-mode task-overhead cap clamps DOWN: C(100000,2) ≈ 5e9
    // pairs would ask for 5000 tasks
    val huge = Seq(("g1", 100000L)).toDF("g", "__df")
    assert(graft.operators.Par.pairExpansionWidth(huge, "__df", 100000) ==
      MaxPairWidth)
  }

  test("market basket runs pair stages at forecast width, part counts off broadcast") {
    // round-16 local-cluster catch: the (part_a, part_b) support
    // aggregate at session-static width killed an 8 GiB executor at the
    // 100x fixture (UnsafeSorterSpillReader OOM in finishAggregate — the
    // q292 signature); the per-part count lookups join a catalog-growing
    // frame on both sides, so a forced broadcast dies collecting it at
    // scale. Only the 1-row order-count frame may broadcast (its
    // BroadcastNestedLoopJoin cross join is the legitimate one).
    // final plan only: the no-broadcast assertion must not trip on
    // AQE's pre-final "== Initial Plan ==" text (same normalization as
    // the shuffle-regime lint above)
    val plan = planOf("q184_market_basket")
      .split("== Initial Plan ==").head
    assert(plan.contains("REPARTITION_BY_NUM"),
      "q184 lost its forecast-width repartitions")
    assert(!plan.contains("BroadcastHashJoin"),
      "q184 must not broadcast the catalog-growing part-count frame")
    // round-18 restructure: pair emission is a grouped collect_set +
    // an in-row combination explode over ONE fact exchange — the
    // fact-grain self-join (and its two extra exchanges + sorts) must
    // not come back; the only remaining joins are the thin part-count
    // SHJ lookups. The basket collect_set itself runs EAGERLY inside
    // Scratch.staged (the memoized-operator lint caveat: its
    // ObjectHashAggregate lives in the staging execution, not this
    // plan — the same-box A/B priced the staged layout 1.92 s vs
    // 2.84 s min for the in-plan one at sf0.1, one fact pass instead
    // of two), so what THIS plan must show is the restructure's
    // signature: the checkpointed basket scan and the Generate explode
    // that replaces the self-join.
    assert(!plan.contains("SortMergeJoin"),
      "q184's fact self-join returned — pair emission should be the " +
        "grouped collect_set, one fact exchange, no join")
    assert(plan.contains("Scan ExistingRDD"),
      "q184 lost its staged basket frame (collect_set runs once, " +
        "in the staging execution)")
    assert(plan.contains("Generate explode"),
      "q184 lost its in-row pair-combination explode")
    graft.operators.Scratch.releaseAll(spark)
  }

  test("banded range join never falls back to a nested-loop join") {
    val plan = planOf("q53_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("as-of join shuffles once on the key, no join operator at all") {
    val plan = planOf("q51_asof_join")
    assert(plan.contains("Window"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
    // one hash exchange: the window partitioning on user_id
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size >= 1)
  }

  test("tf-idf, balanced sample, and quality top-k push group limits below the window") {
    assert(planOf("q50_tfidf").contains("WindowGroupLimit"))
    assert(planOf("q55_balanced_sample").contains("WindowGroupLimit"))
    assert(planOf("q125_top_quality").contains("WindowGroupLimit"))
  }

  test("token pipeline scans only the columns it projects") {
    // The registered q48 consumes the shared counts memo (its executed
    // plan scans the checkpointed (doc_id, tok, cnt) ExistingRDD), so
    // the column-pruning contract lives in the memo's BUILD plan,
    // asserted here.
    val docs = new graft.cube.Engine(spark, sf).table("documents")
    val df = graft.operators.Corpus.tokenCounts(docs)
    df.collect()
    assert(df.queryExecution.executedPlan.toString
      .contains("ReadSchema: struct<doc_id:bigint,text:string>"))
    // and the registered query does ride the shared frame
    assert(planOf("q48_quality_filter").contains("Scan ExistingRDD"))
  }

  test("CDC compaction keeps only rank-1 rows per key before the shuffle") {
    val plan = planOf("q69_latest_snapshot")
    assert(plan.contains("WindowGroupLimit"),
      "latest-per-key must prune to one row per key map-side")
  }

  // AQE plan strings append an "== Initial Plan ==" copy — count
  // exchanges in the final (executed) section only
  private def finalPlanOf(name: String): String =
    planOf(name).split("== Initial Plan ==").head

  test("SCD2 computes both windows over a single user_id exchange") {
    val plan = finalPlanOf("q70_scd2")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      "lag and lead windows must share one user_id partitioning")
  }

  test("inverted index shares one token exchange between window and aggregate") {
    val plan = finalPlanOf("q66_inverted_index")
    assert("hashpartitioning\\(tok#".r.findAllIn(plan).size == 1,
      "posting-cap window and df aggregate must share the token shuffle")
  }

  test("outlier detection broadcasts the moments; the fact side never sort-merge-joins") {
    val plan = finalPlanOf("q79_value_outliers")
    assert(plan.contains("BroadcastHashJoin"),
      "per-group moments must broadcast to the fact scan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "the fact table must not shuffle for the moments join")
  }

  test("q75 global ranks never sort the customer frame into one partition") {
    val plan = finalPlanOf("q75_revenue_quartiles")
    // ntile/percent_rank are derived arithmetically from the distributed
    // rank — the window functions (which force a global one-partition
    // sort) must be gone from the plan entirely
    assert(!plan.contains("ntile("), "ntile window fn reappeared in q75")
    assert(!plan.contains("percent_rank("), "percent_rank window fn reappeared in q75")
    // the local rank is POSITIONAL (monotonically_increasing_id in the
    // range-sorted stage) — no row_number window at all, so the ranked
    // frame is never hash-exchanged a second time after the range cut
    assert(!plan.contains("row_number("),
      "q75 must not rank via a row_number window")
    // at most one __pid hash exchange — the one-row-per-partition COUNT
    // frame; the old window shape exchanged the full ranked frame too
    assert("hashpartitioning\\(__pid".r.findAllIn(plan).size <= 1,
      "the full ranked frame must not re-shuffle on __pid")
    // the only single-partition exchange allowed is the offsets frame —
    // one row per partition, bounded by cluster size not data size
    val singles = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(singles <= 1, s"expected at most one bounded SinglePartition exchange, got $singles")
    if (singles == 1)
      assert(plan.contains("HashAggregate(keys=[__pid"),
        "the SinglePartition subtree must be the per-partition count frame")
  }

  test("rfm, lorenz, whale curve, and shard plan never sort an unbounded grain into one partition") {
    // The round-10 scale-killers: q180 ranked customers through three
    // unpartitioned ntile windows, q243 through a global row_number,
    // q248 ranked EVERY asset the same way. All now rank via
    // Ranks.globalRowNumber (the q75 machinery): no ntile/row_number
    // window anywhere in the plan, so the only single-partition work
    // left is bounded (per-partition offsets rows, 10 decile rows).
    Seq("q180_rfm", "q243_revenue_lorenz", "q248_shard_plan",
        "q286_whale_curve").foreach { q =>
      val plan = finalPlanOf(q)
      assert(!plan.contains("ntile("),
        s"$q ranks an unbounded grain via an ntile window again")
      assert(!plan.contains("row_number("),
        s"$q ranks an unbounded grain via a row_number window again")
    }
  }

  test("attribution models compute both touch windows over one user_id exchange") {
    val plan = finalPlanOf("q277_attribution_models")
    // first- and last-touch RANGE frames share partitioning AND ordering,
    // so Catalyst must plan them in one Window node over one exchange
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      "ft/lt range frames must share one user_id partitioning")
  }

  test("ks drift cumulative sums run at type grain over the bounded grid") {
    val plan = finalPlanOf("q270_ks_drift")
    // the window partitions on event_type — never a global one-partition
    // cumulative over raw events
    assert("hashpartitioning\\(event_type".r.findAllIn(plan).size >= 1)
    assert(!plan.contains("CartesianProduct"),
      "the dense grid must come from the bounded bin x type cross join")
  }

  test("semantic outliers broadcast the centroid table, the member side never shuffles for it") {
    val plan = finalPlanOf("q282_semantic_outliers")
    assert(plan.contains("BroadcastHashJoin"),
      "labels x dim centroid frame must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "the exploded member frame must not sort-merge against centroids")
  }

  test("event transitions shuffle the fact once at user grain") {
    val plan = finalPlanOf("q98_event_transitions")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      "lag window must be the only user_id exchange")
    assert(!plan.contains("CartesianProduct"))
  }

  test("near-dup cross join and triangle census never degrade to cartesian plans") {
    Seq("q104_neardup_join", "q102_triangles", "q101_ivf_knn_join").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a BNLJ")
    }
  }

  test("bm25 runs on one corpus scan, takes top-k, no global sort") {
    val df = SparkEntry.queries("q110_bm25")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the final top-k must be a bounded take, not a full sort of the
    // scored frame
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected a top-k take in:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"))
    // round 18: stats and tf both derive from the ONE staged per-doc
    // frame (in-row term prune), so the registered plan must not scan
    // the corpus again — a FileScan here means the second tokenize
    // pass came back
    assert(!plan.contains("FileScan"),
      "q110 re-scans the corpus — stats/tf must read the staged " +
        "single-scan per-doc frame")
  }

  test("bm25 retrieval runs on one corpus scan in the broadcast regime, shuffle regime prunes below the aggregation") {
    val df = SparkEntry.queries("q115_bm25_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-k must prune below the window")
    assert(!plan.contains("CartesianProduct"))
    // round 18 broadcast regime: stats and tf derive from ONE staged
    // per-doc frame (in-row term prune against the broadcast term set)
    // — no second corpus scan in the registered plan
    assert(!plan.contains("FileScan"),
      "q115 re-scans the corpus — stats/tf must read the staged " +
        "single-scan per-doc frame")
    // q145 deliberately keeps its two-pass codegen shape (the
    // positional in-row prune measured SLOWER at 100× — see
    // chunkRetrieval's method comment); only pin that it stays
    // cartesian-free
    val cdf = SparkEntry.queries("q145_chunk_retrieval")(spark, sf)
    cdf.collect()
    val cplan = cdf.queryExecution.executedPlan.toString
    assert(!cplan.contains("CartesianProduct"))
    // SHUFFLE regime (corpus-scale term sets): the two-pass shape stays
    // — the shuffle semi-join against the query terms sits under the
    // (doc_id, tok) aggregation, directly over the explode, so the
    // shuffle carries only query-term rows
    import graft.SparkTestBase.spark.implicits._
    val docs = new graft.cube.Engine(spark, sf).table("documents")
    val qterms = Seq((0L, "spark"), (0L, "query")).toDF("query_id", "tok")
    val opt = graft.operators.Corpus
      .bm25TfForQueries(docs, qterms, broadcastQueries = Some(false))
      .queryExecution.optimizedPlan.toString
    val aggIdx = opt.indexOf("Aggregate")
    val semiIdx = opt.indexOf("Join LeftSemi")
    val genIdx = opt.indexOf("Generate explode")
    assert(aggIdx >= 0 && semiIdx > aggIdx && genIdx > semiIdx,
      s"term semi-join must sit between the aggregation and the explode:\n$opt")
  }

  test("dedup spans: no cartesian work, reassembly keyed by doc not by a global sort") {
    val plan = planOf("q117_dedup_spans")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the span-count join must be an equi-join on the span text
    assert(plan.contains("span"), "span key missing from the executed plan")
    // the only SinglePartition exchange allowed is the final presentation
    // sort's child — the aggregation itself must stay partitioned
    assert("Exchange SinglePartition".r.findAllIn(plan).isEmpty,
      "dedupSpans must not aggregate through a single partition")
  }

  /** Run `body` with broadcast joins disabled (both the static and the
    * AQE thresholds), restoring prior values after — and invalidate the
    * session-lifetime memos afterward so a pair frame or index layout
    * materialized under the altered conf is never observed by a later
    * suite (order-independence; the memos recompute on next use).
    */
  private def withAutoBroadcastDisabled[T](body: => T): T = {
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) => conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
      graft.operators.Scratch.invalidate(spark)
    }
  }

  test("leakage audit and dup matrix shuffle-join the pair frame, no unconditional broadcast") {
    // The near-dup pair frame is NOT bounded by corpus size (clusters are
    // near-cliques; web-scale pair frames run tens of GB, past Spark's
    // 8 GB broadcast cap), so neither operator may carry an explicit
    // broadcast hint. An explicit hint forces BroadcastHashJoin even at
    // threshold -1, so planning with auto-broadcast disabled
    // distinguishes "hint present" from "AQE chose broadcast because the
    // fixture is tiny" — the latter is fine and stays available at scale.
    withAutoBroadcastDisabled {
      Seq("q119_leakage_audit", "q120_source_dup_matrix").foreach { q =>
        val df = SparkEntry.queries(q)(spark, sf)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"),
          s"$q still broadcasts the pair frame:\n${plan.take(1500)}")
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"$q must shuffle-join the pair frame on the doc-id keys")
        assert(!plan.contains("CartesianProduct"))
      }
    }
  }

  test("shuffle-regime indexed ANN join never broadcasts the query side") {
    // q128 is the corpus-scale-query-side regime: with broadcastQueries =
    // Some(false) there must be NO broadcast hint — planning with
    // auto-broadcast disabled (the q119/q120 device) distinguishes "hint
    // present" from "AQE chose broadcast because the fixture is tiny" —
    // and the probe join must shuffle both sides on cid.
    withAutoBroadcastDisabled {
      val df = SparkEntry.queries("q128_ivf_shuffle_knn")(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"q128 still broadcasts the query side:\n${plan.take(1500)}")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "q128 must shuffle-join the probes on cid")
      assert("hashpartitioning\\(cid".r.findAllIn(plan).nonEmpty,
        "the probe join must be keyed on cid")
      assert(!plan.contains("CartesianProduct"))
    }
    // and the default (auto) regime still broadcasts a small mining batch
    val auto = planOf("q101_ivf_knn_join")
    assert(auto.contains("BroadcastExchange"),
      "a small query batch must broadcast under the auto regime")
  }

  test("semantic keep list: centroid join and rank share cluster grain, no cartesian") {
    val plan = planOf("q118_semantic_keeplist")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the per-cluster window must run partitioned by cluster_id (a global
    // single-partition window would serialize the whole corpus)
    val rnLine = plan.linesIterator.find(_.contains("row_number()"))
    assert(rnLine.exists(_.contains("cluster_id")),
      s"row_number must be partitioned by cluster_id, got: $rnLine")
  }

  test("quality tiers stay join-free; zipf ranks the vocabulary distributed") {
    val tiers = planOf("q121_quality_tiers")
    assert(!tiers.contains("Join"), "quality tiers must not join anything")
    // banding is scan-stage map work: one partial+final agg pair, no
    // window, no sort before the 3-row presentation orderBy
    assert(!tiers.contains("Window"), "quality tiers must not window")
    val zipf = finalPlanOf("q124_zipf_report")
    // the vocabulary rank is DISTRIBUTED (Ranks.globalRowNumber):
    // positional local ranks in the range-sorted stage — no row_number
    // window, no single-partition sort of the token-frequency frame,
    // and no second hash exchange of it either
    assert(!zipf.contains("row_number("),
      "vocabulary rank must not be a row_number window")
    // at most one __pid hash exchange — the bounded count frame; the old
    // window shape also exchanged the full vocabulary on __pid
    assert("hashpartitioning\\(__pid".r.findAllIn(zipf).size <= 1,
      "the ranked vocabulary must not re-shuffle on __pid")
    // the offsets frame joins back map-side; the vocabulary never
    // shuffles for the rank join
    assert(zipf.contains("BroadcastHashJoin"),
      "per-partition offsets must broadcast to the ranked frame")
    assert(!zipf.contains("SortMergeJoin") && !zipf.contains("ShuffledHashJoin"),
      "the token-frequency frame must not shuffle for the offsets join")
    // single-partition exchanges: only the bounded ones — the
    // one-row-per-partition offsets frame and the 1-row report aggregate
    val singles = "Exchange SinglePartition".r.findAllIn(zipf).size
    assert(singles <= 2, s"expected at most two bounded SinglePartition exchanges, got $singles")
    assert(zipf.contains("HashAggregate(keys=[__pid"),
      "the offsets subtree must aggregate one row per partition")
  }

  test("cube query pushes cut predicates into the parquet scan") {
    val df = new graft.cube.Engine(spark, sf).getData(graft.cube.CubeQuery(
      "trade", Seq("Nation"), Seq("Trade Value"),
      Map("Nation" -> Seq("JAPAN"))))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val pushedToScan = plan.linesIterator
      .exists(l => l.contains("FileScan") && l.contains("EqualTo(n_name,JAPAN)")
        && l.contains("PushedFilters"))
    assert(pushedToScan, "cut predicate did not reach the parquet scan")
  }

  test("bucketed rollup tables join with no exchange on the join keys") {
    // q144's layout contract: after the bucketed write, a join on the
    // bucket keys reads both sides pre-shuffled — the exchange was paid
    // once at write time. Broadcast disabled so the tiny fixture dim
    // cannot hide a missing bucket join behind BroadcastHashJoin.
    withAutoBroadcastDisabled {
      graft.SparkEntry.queries("q144_bucketed_rollup")(spark, sf).collect()
      val j = spark.table("graft_bkt_orders")
        .join(spark.table("graft_bkt_customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"bucketed join must be a shuffle-family join:\n${plan.take(1200)}")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not re-shuffle either side:\n${plan.take(1200)}")
    }
  }

  test("transition dwell computes lag over a single user_id exchange") {
    val plan = finalPlanOf("q318_transition_dwell")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      "the per-user lag window must be the only user-grain shuffle; " +
        "the matrix rollup regroups on the bounded type pair")
  }

  test("order cycle prunes the lineitem scan to orderkey + shipdate") {
    val plan = finalPlanOf("q316_order_cycle")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate"),
      "at 100 TB the fact scan must read 2 of lineitem's 16 columns:\n" +
        plan.linesIterator.filter(_.contains("ReadSchema"))
          .mkString("\n"))
  }

  test("aspect buckets never read the document text, let alone the payload") {
    // meta.width/height derive from doc_id alone — the whole report must
    // come off a 1-column scan; pulling text (the payload stand-in) in
    // would ship corpus bytes through a metadata rollup
    val plan = finalPlanOf("q317_aspect_buckets")
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
      r.contains("struct<doc_id:bigint>") ||
        !r.contains("documents") && !r.contains("text")),
      s"documents scan not pruned to doc_id:\n${reads.mkString("\n")}")
  }

  test("events time-range cut pushes raw-ts bounds into the parquet scan under NTZ") {
    // A range cut on the DERIVED calendar level (date_trunc over ts) is
    // not scan-pushable by itself; Level.rangePrune supplies the superset
    // raw-ts bounds. On a 100 TB event store this is the difference
    // between scanning everything and reading only the window's row
    // groups/partitions — assert the bounds actually reach PushedFilters
    // now that ts scans as TIMESTAMP_NTZ.
    val df = graft.SparkEntry.queries("q138_events_window")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("PushedFilters") &&
        l.contains("GreaterThanOrEqual(ts,") && l.contains("LessThan(ts,"))
    assert(pushed, s"raw-ts range bounds did not reach the parquet scan:\n${
      plan.linesIterator.filter(_.contains("FileScan")).mkString("\n")}")
  }
}
