package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Deduplication operators for large-scale corpus curation: exact,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (the point at 100 TB):
  *   - signatures (minhash/simhash) are pure per-row higher-order-function
  *     expressions — computed in the scan stage, no shuffle, no UDF;
  *   - candidate generation shuffles only (band_id, band_hash, doc_id)
  *     tuples — never text — and self-joins on the band hash;
  *   - verification joins shingle sets back for the (small) candidate set
  *     only; AQE broadcasts the candidate list;
  *   - degenerate buckets (giant clusters of identical docs) switch from
  *     quadratic all-pairs to a linear star expansion past a bucket-size cap
  *     so one viral duplicate cannot quadratic-blow a partition, while
  *     every member stays connected for clustering (see [[bucketPairs]]).
  */
object Dedup {

  /** Word n-gram size of the shingle sets every operator here compares. */
  val ShingleN = 3
  /** MinHash signature length and LSH banding: 16 bands of 4 rows. */
  val NumPerms = 64
  val Bands = 16
  /** Near-dup Jaccard cut of the minhash and postings pair operators. */
  val Threshold = 0.8
  /** Bucket size past which [[bucketPairs]] emits a star, not all pairs. */
  val MaxBucketSize = 1000

  /** Exact dedup: group by full text, keep the smallest doc_id as the
    * canonical representative (deterministic, unlike dropDuplicates).
    * At scale: group by (hash bucket of) the text — the shuffle carries
    * text once per distinct value; skew-safe under AQE.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  /** LSH band hashes of a minhash signature: b bands of r rows each. */
  def bandHashes(sig: Column, b: Int, r: Int): Column =
    array((0 until b).map { i =>
      struct(lit(i).as("band"), xxhash64(lit(i), slice(sig, i * r + 1, r)).as("sig"))
    }: _*)

  /** Candidate pairs whose band hashes collide, then exact-Jaccard
    * verified against [[Threshold]]. Banding 16x4 ([[Bands]] of
    * [[NumPerms]]) targets the ~0.8+ Jaccard
    * near-dup regime (P[detect] = 1-(1-j^4)^16: .9998 at j=.8, ~1 at .9).
    *
    * Precision/recall contract: exact-Jaccard verification makes the
    * output FALSE-POSITIVE-FREE — every emitted pair truly has
    * jaccard >= threshold. Recall is the banding probability above:
    * a pair exactly at j=0.8 is missed with p≈2.2e-4; real near-dup
    * corpora (the fixture plants pairs at j≈0.98) sit where the S-curve
    * is ≈1 (miss p≈1.6e-18 at j=.98). DedupTextSpec verifies recall is
    * exactly 1.0 against the brute-force all-pairs oracle on the fixture;
    * against a regenerated corpus with mass at the threshold boundary,
    * gate this with a recall tolerance rather than exact equality.
    */
  def minhashPairs(docs: DataFrame): DataFrame = {
    // Shingling is the pipeline's hot map work and three stages need it
    // (signature + both sides of the verification join) — materialize it
    // once (MEMORY_AND_DISK via localCheckpoint) and derive everything
    // from the cached (doc_id, sh) frame. ~1 KB/doc: the cache is orders
    // of magnitude smaller than the corpus text it replaces re-scanning.
    val withSh = docs.select(col("doc_id"),
      TextAnalysis.shingles(col("text"), ShingleN).as("sh"))
      .transform(Scratch.staged)
    val sig = withSh.select(col("doc_id"), minhashBands(col("sh")).as("bands"))
    val exploded = sig.select(col("doc_id"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig"))
    val cand = bucketPairs(exploded, Seq("band", "sig"), "doc_id", MaxBucketSize)
    verifyJaccard(cand, withSh, Threshold)
  }

  /** The [[Bands]] band hashes of a shingle set's [[NumPerms]]-long
    * minhash signature. */
  private def minhashBands(sh: Column): Column =
    bandHashes(graft.functions.TextExpressions.minhashSig(sh, NumPerms),
      Bands, NumPerms / Bands)

  /** Near-dup pairs computed ONCE per (session, dataset) and reused.
    *
    * Six queries consume the SAME pair frame (q26 pairs, q41 clusters,
    * q42 keep-list, q56 curation, q80 data card, q90 pagerank) — without
    * sharing, each re-runs the whole shingle→minhash→band→verify pipeline,
    * which at 100 TB means re-scanning the corpus text six times. The
    * pair frame itself is tiny (one row per verified near-dup pair —
    * orders of magnitude smaller than the corpus), so it is materialized
    * with localCheckpoint (MEMORY_AND_DISK) and every later consumer
    * reads the checkpointed blocks instead of recomputing lineage.
    *
    * A [[Scratch.memo]] keyed by (session, dataset path): a new session
    * or dataset computes fresh. The key is the CALLER-SUPPLIED path and
    * is trusted: an entry lives until [[Scratch.invalidate]] — if the
    * data under `datasetKey` is rewritten mid-session, the caller must
    * invalidate or every consumer reads stale pairs.
    */
  def minhashPairsShared(docs: DataFrame, datasetKey: String): DataFrame =
    Scratch.memo(docs.sparkSession, "minhashPairs", datasetKey)(
      minhashPairs(docs).transform(Scratch.stageShared))

  /** Forwards to [[Scratch.invalidate]], which drops EVERY memo kind of
    * `spark`, not only the pair frames — that can only force a rebuild,
    * never change a result.
    */
  def invalidateSharedPairs(spark: org.apache.spark.sql.SparkSession): Unit =
    Scratch.invalidate(spark)

  /** Distinct (idA < idB) pairs of ids sharing a bucket: ONE aggregation
    * per bucket with in-bucket pair expansion via higher-order functions.
    * Strictly better than the textbook exploded self-join: the signature
    * pipeline runs once (a self-join evaluates it for both sides), there
    * is exactly one shuffle (the groupBy), and the bucket cap is a plain
    * size comparison instead of a window sort.
    *
    * Oversized buckets (degenerate clusters of near-identical docs — the
    * viral-template case) are NOT dropped: they emit a linear STAR
    * pattern (min id paired with every other member) instead of the
    * quadratic all-pairs expansion. The star keeps the whole cluster
    * connected — exactly what [[clusters]]/[[keepList]] need — while
    * bounding output at O(bucket) instead of O(bucket^2); only pairwise
    * *completeness* inside one bucket is capped. (The aggregation buffer
    * still holds the id set once; a bucket too large even for that is a
    * data-quality signal to handle upstream with [[exact]] first.)
    */
  private[operators] def bucketPairs(
      exploded: DataFrame,
      bucketCols: Seq[String],
      idCol: String,
      maxBucketSize: Int,
      width: Option[Int] = None): DataFrame = {
    // `width` (from Par.starPairWidth — Σ capped pair mass over the
    // bucket-size frame) spreads the in-bucket expansion: the bucket
    // frame is tiny in BYTES but quadratic in what each row explodes
    // into, so AQE coalesces the aggregate's read side to a handful of
    // tasks and the explode plus the pair-distinct's map-side hash map
    // serialize there — observed live on q27 at the 100× fixture as one
    // 49 s stage: 10 tasks, 219M pair rows, 10.6 GB of spill. An
    // explicit-count repartition is not AQE-coalescible; the pair-grain
    // repartition BELOW the distinct additionally satisfies its
    // distribution, so no partial aggregate forms on the exploding side
    // at all — pair rows stream thin into the exchange and the distinct
    // map (the unspillable working set the width protects) builds at
    // forecast grain. Callers without a cheaply-staged bucket-size
    // frame (minhash's band hashes would re-pay 64 hash passes per doc
    // to count) keep the default; their pair mass is verify-bounded and
    // has stayed inside the session width at every probed scale.
    val grouped0 = exploded
      .groupBy(bucketCols.map(col): _*)
      .agg(collect_set(col(idCol)).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(sort_array(col("ids")).as("ids"))
    val grouped = width.fold(grouped0)(w => grouped0.repartition(w))
    val allPairs = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + lit(2), size(col("ids"))), y =>
        struct(x.as("a"), y.as("b")))))
    val starPairs = transform(slice(col("ids"), lit(2), size(col("ids"))), y =>
      struct(element_at(col("ids"), 1).as("a"), y.as("b")))
    val pairs = when(size(col("ids")) <= maxBucketSize, allPairs)
      .otherwise(starPairs)
    val flat = grouped.select(explode(pairs).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    width.fold(flat.distinct())(w =>
      flat.repartition(w, col("doc_a"), col("doc_b")).distinct())
  }

  /** Exact n-gram Jaccard on candidate pairs: join shingle sets back and
    * filter by true similarity. Shuffles shingles only for candidates.
    */
  def verifyJaccard(cand: DataFrame, withSh: DataFrame, threshold: Double): DataFrame =
    cand
      // Both join inputs grow with the corpus (pairs × shingle sets) —
      // pinned off broadcast, and SORT-MERGE specifically: the shingle
      // ARRAY side is fat (~1 KB/row), and an SHJ build map of it at a
      // static width cannot spill — it killed q90's pair build at the
      // 100× fixture under 8 GiB executors (Par.mergeJoin).
      .join(Par.mergeJoin(
        withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))), "doc_a")
      .join(Par.mergeJoin(
        withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))), "doc_b")
      // Threshold the UNROUNDED ratio (a pair with true jaccard in
      // [threshold - 5e-5, threshold) must not sneak in via round-up);
      // round only for the result surface. Oracles filter the same way.
      .withColumn("__j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("__j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("__j"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** EXACT n-gram Jaccard near-dup pairs via an inverted postings index —
    * the exact counterpart to [[minhashPairs]]' approximation. Reach for
    * it when the threshold sits where minhash banding's S-curve is soft
    * (0.5–0.7) or when false NEGATIVES are contractual (a benchmark
    * decontamination audit, a legal-hold dedup): every pair with true
    * Jaccard ≥ threshold over the un-capped gram space is emitted, modulo
    * the df cap below.
    *
    * Plan: explode each doc's distinct shingle set into postings
    * (gram, doc_id); self-join postings on the gram to count |A∩B| per
    * id-ordered pair (shuffles keyed by gram, then by pair — both
    * fine-grained); join each side's set size back and threshold
    * |A∩B| / (|A| + |B| − |A∩B|). No signatures, no probability: what
    * banding makes ~certain, this makes certain.
    *
    * The scale lever is `maxDf`: a gram appearing in > maxDf docs (site
    * chrome, license boilerplate) would emit O(df²) pair rows from one
    * join key — the classic postings hot key. Such grams are dropped from
    * PAIRING only; each doc's set SIZE keeps them, so the denominator
    * stays honest and a capped gram can only LOWER a counted
    * intersection: bounded work traded for one-sided recall loss at the
    * boundary, never a false positive. Oracles replicate the cap with the
    * same df rule, so the contract stays hash-exact either way.
    */
  def jaccardPairs(docs: DataFrame, maxDf: Int = 1000,
      datasetKey: String): DataFrame =
    pairIntersections(docs, maxDf, datasetKey)
      // threshold the UNROUNDED ratio, same discipline as [[verifyJaccard]]
      .withColumn("__j", col("__i").cast("double") /
        (col("__na") + col("__nb") - col("__i")))
      .filter(col("__j") >= Threshold)
      .select(col("doc_a"), col("doc_b"), round(col("__j"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Shared inverted-postings machinery for [[jaccardPairs]],
    * [[containmentPairs]], [[dupDegree]] and [[jaccardThresholdSweep]]:
    * id-ordered pair intersection counts with both set sizes attached —
    * (doc_a, doc_b, __i, __na, __nb). Pairs with an empty (fully
    * capped) intersection do not appear.
    *
    * The frame is session-memoized under (`datasetKey`, `maxDf`) and
    * localCheckpoint'ed (the [[minhashPairsShared]] discipline): four
    * registered queries consume this exact frame at the same
    * maxDf, and the postings self-join — the expensive part
    * of all four — is paid once per session instead of once per
    * consumer. The checkpointed frame is one row per CANDIDATE pair
    * (intersection ≥ 1 post-cap), bounded by the same maxDf cap that
    * bounds the join itself; [[Scratch.invalidate]] releases it.
    */
  private def pairIntersections(docs: DataFrame, maxDf: Int,
      datasetKey: String): DataFrame =
    Scratch.memo(docs.sparkSession, "pairIntersections", (datasetKey, maxDf))(
      computePairIntersections(docs, maxDf).transform(Scratch.stageShared))

  /** The build behind [[pairIntersections]]' memo. */
  private[graft] def computePairIntersections(docs: DataFrame, maxDf: Int): DataFrame = {
    val withSh = docs
      .select(col("doc_id"), TextAnalysis.shingles(col("text"), ShingleN).as("sh"))
      .transform(Scratch.staged)
    val post = withSh.select(col("doc_id"), explode(col("sh")).as("g"))
    // count-then-semi-join (not collect_list-then-filter): a mega-hot gram
    // must never be materialized as one giant postings array on a single
    // row. The df frame is staged ONCE (vocab-sized) and feeds both the
    // keep-list and the width forecast — the postings groupBy shuffle is
    // paid a single time.
    val dfFrame = Scratch.staged(post.groupBy(col("g"))
      .agg(count(lit(1)).as("__df")))
    val keptGrams = dfFrame.filter(col("__df") <= maxDf).select(col("g"))
    // Gram keep-list, postings self-join, and set-size lookups all join
    // corpus-growing inputs (vocabulary / postings / per-doc sizes) —
    // every one pinned to the shuffle regime (Par.shuffleJoin). The
    // self-join and the pair-grain aggregate additionally run at the
    // FORECAST-proportional width (Par.pairExpansionWidth): their
    // output grows quadratically in per-gram df while the inputs stay
    // postings-sized, and at cores-wide partitioning the map-side
    // aggregate's spill-merge OOMs an executor-sized heap (measured,
    // q292's twin pipeline at the 10× fixture under 8 GiB executors).
    val width = Par.pairExpansionWidth(dfFrame, "__df", maxDf)
    val keptPost = post.join(Par.shuffleJoin(keptGrams), "g")
    val inter = keptPost.select(col("g"), col("doc_id").as("doc_a"))
      .repartition(width, col("g"))
      .join(Par.shuffleJoin(
        keptPost.select(col("g"), col("doc_id").as("doc_b"))
          .repartition(width, col("g"))), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .repartition(width, col("doc_a"), col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("__i"))
    val sz = withSh.select(col("doc_id"), size(col("sh")).cast("long").as("__n"))
    inter
      .join(Par.shuffleJoin(
        sz.select(col("doc_id").as("doc_a"), col("__n").as("__na"))), "doc_a")
      .join(Par.shuffleJoin(
        sz.select(col("doc_id").as("doc_b"), col("__n").as("__nb"))), "doc_b")
  }

  /** Dedup threshold-tuning curve: candidate-pair and affected-document
    * counts at a ladder of Jaccard thresholds, from ONE postings pass —
    * the "where do we set the cut?" sweep that would otherwise re-run
    * the pair pipeline per threshold. Counts are integers, so the curve
    * is bit-stable across engines.
    */
  def jaccardThresholdSweep(docs: DataFrame, maxDf: Int = 1000,
      datasetKey: String): DataFrame = {
    val thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    val j = pairIntersections(docs, maxDf, datasetKey)
      .withColumn("__j", col("__i").cast("double") /
        (col("__na") + col("__nb") - col("__i")))
    val sweep = j
      .withColumn("threshold",
        explode(array(thresholds.map(lit): _*)))
      .filter(col("__j") >= col("threshold"))
    val nPairs = sweep.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = sweep
      .select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("d")).as("n_docs"))
    nPairs.join(nDocs, "threshold").orderBy(col("threshold"))
  }

  /** Near-dup cluster size histogram over [[clusters]]' components:
    * size -> cluster count — the "are duplicates pairs or families?"
    * profile that sizes the expected keep-list savings. Two tiny
    * aggregations over the already-collapsed cluster frame.
    */
  def clusterSizes(pairs: DataFrame): DataFrame =
    clusters(pairs)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** Overlap-coefficient (containment) near-dup pairs:
    * |A∩B| / min(|A|, |B|) over the same inverted postings index as
    * [[jaccardPairs]]. Catches what Jaccard structurally CANNOT: a short
    * doc wholly quoted inside a much longer one has overlap 1.0 but
    * Jaccard ≈ |A|/|B| → 0, so a Jaccard-thresholded dedup keeps both.
    * Containment is the C4/RealNews-style answer to quote-inclusion and
    * template-wrapping duplication.
    *
    * Same plan and same `maxDf` hot-key cap as [[jaccardPairs]] (capped
    * grams drop from pairing only, sizes stay honest — one-sided recall
    * loss, no false positives); emits the id-ordered pair with BOTH
    * coefficients so a consumer can separate true near-dups (high
    * jaccard) from inclusions (high overlap, low jaccard).
    */
  def containmentPairs(docs: DataFrame,
      threshold: Double = 0.9, maxDf: Int = 1000,
      datasetKey: String): DataFrame =
    pairIntersections(docs, maxDf, datasetKey)
      .withColumn("__c", col("__i").cast("double") / least(col("__na"), col("__nb")))
      .filter(col("__c") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("__c"), 4).as("overlap"),
        round(col("__i").cast("double") /
          (col("__na") + col("__nb") - col("__i")), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Per-document near-duplicate DEGREE: for every doc with at least one
    * exact-Jaccard partner at [[Threshold]], how many partners it has and
    * the strongest similarity. Degree is the density signal pair lists
    * bury: a doc with 40 near-dups is boilerplate (a template, a license
    * page, syndicated chrome) and a curation pass drops or down-weights
    * the whole neighborhood, where a doc with one partner is an ordinary
    * duplicate handled by the keep-list. The MADLAD/RefinedWeb-style
    * "too many near-dups → not content" filter needs exactly this frame.
    *
    * Plan: the id-ordered pair frame from [[pairIntersections]] (shared
    * with [[jaccardPairs]]/[[containmentPairs]], same `maxDf` hot-key
    * bound), thresholded unrounded, then unpivoted to one row per
    * (pair, endpoint) and aggregated by doc — the union doubles a frame
    * that is already tiny next to the corpus, and the degree agg is a
    * bounded-key groupBy on doc_id.
    */
  def dupDegree(docs: DataFrame, maxDf: Int = 1000,
      datasetKey: String): DataFrame = {
    val pairs = pairIntersections(docs, maxDf, datasetKey)
      .withColumn("__j", col("__i").cast("double") /
        (col("__na") + col("__nb") - col("__i")))
      .filter(col("__j") >= Threshold)
    pairs.select(col("doc_a").as("doc_id"), col("__j"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"), col("__j")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_dups"),
        round(max(col("__j")), 4).as("max_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** One side of the bipartite near-dup join, pre-keyed: the checkpointed
    * shingle frame and its exploded (id, band, sig) band-hash frame. Both
    * sides of a join are keyed by the one banding family above, so their
    * equi-join keys mean the same thing.
    */
  final case class MinhashJoinIndex(sh: DataFrame, bands: DataFrame)

  /** Shingle + band-hash one side of the bipartite join. `scratch` frames
    * are per-query intermediates (drained at the query boundary);
    * session-lifetime indexes pass scratch=false and own their release
    * via [[Scratch.invalidate]].
    */
  private def keyedSide(df: DataFrame, idAs: String, shAs: String,
      scratch: Boolean): MinhashJoinIndex = {
    // session-lifetime (scratch=false) sides are multi-consumer — in the
    // reliable-checkpoint mode they must not re-read files per probe
    val raw = df.select(col("doc_id").as(idAs),
      TextAnalysis.shingles(col("text"), ShingleN).as(shAs))
    val withSh =
      if (scratch) raw.transform(Scratch.staged)
      else raw.transform(Scratch.stageShared)
    val ex = withSh.select(col(idAs), explode(minhashBands(col(shAs))).as("b"))
      .select(col(idAs), col("b.band").as("band"), col("b.sig").as("sig"))
    MinhashJoinIndex(withSh, ex)
  }

  /** Build (once per session+dataset) the corpus side of
    * [[minhashJoin]] for repeated probing, like [[minhashPairsShared]].
    * Build once — the full corpus scan + shingle + 64 minhash passes, the
    * expensive amortized step — probe many. This is what an ONLINE
    * admission gate (q123) needs: a per-trigger rebuild of the static
    * side is a full-corpus scan per micro-batch, precisely the cost an
    * unbounded stream cannot pay. [[Scratch.invalidate]] releases the
    * blocks.
    */
  def minhashJoinIndexShared(right: DataFrame, datasetKey: String): MinhashJoinIndex =
    Scratch.memo(right.sparkSession, "minhashJoinIndex", datasetKey)(
      keyedSide(right, "match_id", "sh_b", scratch = false))

  /** Probe a pre-built corpus index with `left`: the per-trigger cost of
    * the streaming gate — the probe batch's own shingles plus the
    * (band, sig) equi-join; the corpus side is read from its checkpoint,
    * never recomputed. Same output contract as [[minhashJoin]].
    */
  def minhashJoinProbe(left: DataFrame, idx: MinhashJoinIndex): DataFrame = {
    val l = keyedSide(left, "probe_id", "sh_a", scratch = true)
    // Bipartite band join and both verification lookups: every input
    // grows with its corpus side — shuffle regime, never broadcast.
    val cand = l.bands.join(Par.shuffleJoin(idx.bands), Seq("band", "sig"))
      .select(col("probe_id"), col("match_id")).distinct()
    cand
      // fat shingle-array sides — sort-merge, not SHJ (Par.mergeJoin)
      .join(Par.mergeJoin(l.sh), "probe_id")
      .join(Par.mergeJoin(idx.sh), "match_id")
      // Unrounded threshold, rounded display — same as [[verifyJaccard]].
      .withColumn("__j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("__j") >= Threshold)
      .select(col("probe_id"), col("match_id"), round(col("__j"), 4).as("jaccard"))
      .orderBy(col("probe_id"), col("match_id"))
  }

  /** Cross-corpus near-dup JOIN: for every left ("probe") doc, the right
    * ("corpus") docs with exact Jaccard >= [[Threshold]]. The banding
    * machinery of [[minhashPairs]], but candidates come from band-hash
    * collisions ACROSS the two sides — an equi-join keyed (band, sig)
    * carrying only ids and hashes (text never shuffles, never a cross
    * join), then exact-Jaccard verification over the candidates. Same
    * precision/recall contract as [[minhashPairs]] (false-positive-free;
    * banding S-curve recall). A viral key hot on both sides is split by
    * AQE's skew join (DedupTextSpec exercises the bipartite hot-band
    * path); the within-side degenerate-bucket star fallback does not
    * apply here because the join is bipartite.
    *
    * Oracle caveat (q104): the brute-force Jaccard oracle is EXACT while
    * banding recall is probabilistic (~0.9998 at j=0.8 with 16x4 bands) —
    * hash-parity holds on the fixture because its planted pairs sit at
    * j≈0.98 where the S-curve miss probability is ~1e-18; on a corpus
    * with mass at the threshold boundary, gate with a recall tolerance
    * instead of exact equality.
    *
    * This is near-dup DECONTAMINATION: [[Corpus.decontaminate]] catches
    * verbatim n-gram overlap with an eval set; this catches
    * paraphrase-level duplicates of it. Repeated probes against one
    * static corpus (the streaming gate) use [[minhashJoinIndexShared]] +
    * [[minhashJoinProbe]] so the corpus side is keyed once, not per call.
    */
  def minhashJoin(left: DataFrame, right: DataFrame): DataFrame =
    minhashJoinProbe(left, keyedSide(right, "match_id", "sh_b", scratch = true))

  /** Pack sign array into a 64-bit fingerprint (powers-of-two literals —
    * no variable shifts).
    */
  def packSigns(signs: Column): Column = {
    val powers = array((0 until 64).map(i => lit(1L << i)): _*)
    aggregate(zip_with(signs, powers, (s, p) => when(s > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two sign arrays. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, lit(0)).otherwise(lit(1))),
      lit(0), (acc, x) => acc + x)

  /** Connected components over an undirected near-dup pair graph:
    * (doc_id, cluster_id) with cluster_id = min doc_id reachable.
    * Two-level: a per-partition union-find first contracts each
    * partition's subgraph to min-rooted stars (one narrow pass, memory
    * bounded by nodes-per-partition), then label propagation with
    * pointer jumping runs on the node-sized star graph — each round
    * takes the min label over star neighbors (one join + min-aggregate)
    * composed with the shortcut label(x) <- min(label(x),
    * label(label(x))); labels are always node ids, so the jump is a
    * self-join. Propagation alone needs diameter rounds; contraction +
    * jumping make adversarial near-dup CHAINS (the worst case a viral
    * template produces) converge in O(log #partitions-crossed) rounds —
    * that, not the typical tiny cluster, is what matters on a 100 TB
    * corpus. `maxIters` (20 rounds) stays as a hard bound. The driver loop only
    * orchestrates; all data movement is one mapPartitions pass plus
    * joins.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val maxIters = 20
    // localCheckpoint (not cache) after every round: iterative plans grow
    // exponentially in lineage otherwise — planning itself OOMs past a
    // handful of iterations. Checkpointing truncates the logical plan.
    // Two-level CC: contract each PARTITION's subgraph to min-rooted
    // stars with a local union-find before the distributed loop. Every
    // original pair lives in exactly one partition, so (a,b) in p gives
    // root_p(a)=root_p(b)=r and star edges a–r, b–r — components are
    // preserved exactly — while the loop's effective diameter drops from
    // the longest NODE chain to roughly the number of partitions the
    // chain crosses (O(log(#partitions)) rounds instead of O(log(chain))
    // — measured 11 -> ~3 rounds on the threshold-0.3 embedding pair
    // graph). The contraction runs on the RAW pair frame (union-find is
    // direction- and duplicate-insensitive), so the loop's edge frame is
    // node-sized stars instead of the 2x|pairs| undirected closure — on
    // near-clique graphs (the minhash families) that also shrinks the
    // per-round joins from k^2 clique edges to k star edges. Memory is
    // bounded by nodes-per-partition, which maxPartitionBytes bounds at
    // any corpus size; roots are local MIN ids, so the loop still
    // converges to the global component min. Integral labels are cast
    // back to the source id type on emit. Non-integral ids are rejected
    // up front: the loop's sum-based convergence detector needs numeric
    // labels (a string id would null the decimal cast and NPE deep in
    // the loop — map such ids to longs, e.g. xxhash64, before calling).
    val idType = pairs.schema(pairs.schema.fieldIndex("doc_a")).dataType
    val integral = idType match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(integral,
      s"clusters needs an integral id column, got ${idType.sql}: map ids " +
        "to longs (e.g. xxhash64) before clustering")
    val edges = {
      val sp = pairs.sparkSession
      import sp.implicits._
      val stars = pairs
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x // path compression
            while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) { // min id becomes the root
              if (ra < rb) parent(rb) = ra else parent(ra) = rb
            } else { parent.getOrElseUpdate(ra, ra); () }
          }
          // keys snapshotted first: find() path-compresses (value
          // writes) while we emit. Self-edges (local roots) stay in —
          // they keep self-paired singletons in the output node set
          // exactly like the uncontracted edge frame did.
          parent.keysIterator.toArray.iterator.map(n => (n, find(n)))
        }
        .toDF("src", "dst")
      stars.union(stars.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .select(col("src").cast(idType), col("dst").cast(idType))
        .transform(Scratch.staged)
    }
    // Seed label = min(id, min direct neighbor): one aggregation that is
    // exactly the first propagation round for free. For the typical shape
    // (near-dup clusters are near-cliques) every member sees the cluster
    // min immediately and the loop below terminates on its first
    // no-change check.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(first(col("src")), min(col("dst"))).as("label"))
      .transform(Scratch.staged)
    // Labels are node ids and only ever decrease, so sum(label) strictly
    // decreases until the fixed point: a one-column aggregate over the
    // just-checkpointed frame replaces a join-based change detector.
    // A propagation fixed point has equal labels across every edge =
    // one label per component = the component min (the min node's own
    // label never changes), so stopping there is exact.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).collect()(0)
        .getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val propagated = labels
        .join(neighborMin.withColumnRenamed("src", "id2"),
          col("id") === col("id2"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // Pointer jumping: label(x) <- min(label(x), label(label(x))).
      // Labels are node ids, so the jump is a self-join; it halves the
      // distance-to-root each round, making adversarial near-dup CHAINS
      // (worst case of a viral template) converge in O(log d) rounds.
      // The jump is COMPOSED onto the unstaged propagated frame so each
      // round materializes once and sums once (2 eager jobs/round, not
      // 4): the self-join's two references share identical exchanges,
      // which ReusedExchange dedups inside the single staged job, and
      // `labels` is a checkpoint barrier so the copied subtree stays
      // shallow. Composing a SECOND jump doubles the subtree fan-out
      // past what exchange reuse pays for (measured pathological) —
      // one jump per round is the sweet spot.
      val updated = propagated.as("a")
        .join(propagated.select(col("id").as("jid"), col("label").as("jlabel")),
          col("a.label") === col("jid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.label"), coalesce(col("jlabel"), col("a.label"))).as("label"))
        .transform(Scratch.staged)
      // Labels only decrease, so an unchanged sum across a combined
      // propagate+jump round means neither step moved — a propagation
      // fixed point (the jump cannot move what propagation didn't).
      val newSum = labelSum(updated)
      if (newSum.compareTo(prevSum) == 0) converged = true
      prevSum = newSum
      labels = updated
      iter += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end dedup keep-list: canonical representatives only — every
    * doc except non-minimal members of near-dup clusters. The pipeline
    * deliverable: `docs.join(keepList, "doc_id", "left_semi")` is the
    * deduplicated corpus.
    */
  def keepList(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = clusters(pairs).filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.select(col("doc_id"))
      .join(drop, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** MERIT keep-list: keep the best-scoring member of every near-dup
    * cluster instead of [[keepList]]'s id-min representative. The id-min
    * pick is an accident of crawl order — when a page is syndicated
    * across mirrors the copy you keep should be the cleanest one, which
    * is what a curation pass actually wants (the canonical-document
    * selection step in dedup pipelines; [[Similarity.semanticKeepList]]
    * is the embedding-space cousin that keeps the centroid-closest).
    * `score` is any deterministic per-doc merit column (default callers
    * use [[graft.functions.TextAnalysis.qualityScore]] — unrounded,
    * bit-portable); ties break to the lowest doc_id, so the pick is
    * reproducible everywhere.
    *
    * Plan: [[clusters]] labels only docs that appear in a pair; the best
    * member per cluster is a top-1-per-key window (rank 1 over
    * (score desc, doc_id)) that Spark executes as WindowGroupLimit —
    * per-cluster state is one row map-side, never a sort of the corpus.
    * Unclustered docs keep themselves via a left-anti join. Text never
    * shuffles: the score is computed in the scan stage and only
    * (doc_id, cluster_id, score) moves.
    */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame,
      score: Column): DataFrame = {
    val scored = docs.select(col("doc_id"), score.as("__q"))
    val comp = clusters(pairs)
    val best = scored.join(comp, "doc_id")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("__q").desc, col("doc_id"))))
      .filter(col("__rn") === 1)
      .select(col("doc_id"))
    val loners = scored
      .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    best.unionAll(loners).orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist, found by the
    * pigeonhole trick: split 64 bits into (maxDist+1) chunks — any pair
    * within maxDist collides on at least one chunk. Shuffles only
    * (chunk_id, chunk_hash, doc_id).
    *
    * Oracle caveat (q27): the pigeonhole banding is EXACT, so the DuckDB
    * oracle recomputes the identical pair set from raw text — UNLESS a
    * chunk bucket exceeds `maxBucketSize`, where [[bucketPairs]] degrades
    * to its linear star pattern while the all-pairs oracle does not. On a
    * corpus where >maxBucketSize docs share one 16-bit chunk (mass
    * boilerplate), gate q27 with a star-aware tolerance or raise the cap.
    */
  def simhashPairs(
      docs: DataFrame,
      maxDist: Int = 3,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    // One signature scan for the whole job: (doc_id, fp) is 16 bytes/doc,
    // so it is checkpointed once and every later stage (banding + two
    // verification joins) reads the longs instead of re-running the
    // shingle+vote pipeline 3x. Chunk membership is a bit slice of the
    // fingerprint (bijective with the sign sub-array — identical bucket
    // collisions), and hamming is codegen'd bit_count(a ^ b).
    val sigd = docs.select(col("doc_id"),
      graft.functions.TextExpressions.simhashFp(
        TextAnalysis.tokens(col("text"))).as("fp"))
      .transform(Scratch.staged)
    val mask = if (width == 64) -1L else (1L << width) - 1
    val exploded = sigd.select(col("doc_id"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("fp"), c * width).bitwiseAND(lit(mask)).as("sig"))
      }: _*)).as("c"))
      .select(col("doc_id"), col("c.chunk").as("chunk"), col("c.sig").as("sig"))
    // Pair stages at FORECAST width (Par.starPairWidth over the staged
    // bucket-size frame): 16-bit pigeonhole chunks collide at C(n,2)/2^16
    // per chunk even on random text, so the candidate mass grows with
    // the SQUARE of the corpus while the bucket frame's byte size does
    // not — the q184/q292 width class. The count groupBy reads the
    // checkpointed (doc_id, fp) blocks — a thin re-slice, not a second
    // signature pass — so the counts frame is passed UN-staged: its
    // LEAVES are the staged sigd (which is what the forecast's
    // precondition actually guards — truncated upstream), and with the
    // forecast as its only consumer a checkpoint of the bucket-grain
    // counts would be a pure extra materialization job (measured
    // +~1 s at sf0.1; the postings-pair pipelines stage theirs because
    // the keep-list join reads it a second time).
    val dfc = exploded
      .groupBy(col("chunk"), col("sig"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
    val pairWidth = Par.starPairWidth(dfc, "__df", maxBucketSize)
    val cand = bucketPairs(exploded, Seq("chunk", "sig"), "doc_id",
      maxBucketSize, Some(pairWidth))
    // Candidate pairs × fingerprints: both sides corpus-grain — shuffle
    // regime (q27 died at the 100x fixture when AQE broadcast the 1.4 GiB
    // candidate frame off its compressed-shuffle underestimate).
    cand
      .join(Par.shuffleJoin(
        sigd.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"))), "doc_a")
      .join(Par.shuffleJoin(
        sigd.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"))), "doc_b")
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
