package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cube.Engine

/** Fuzzy string-match (edit-distance) join — entity resolution for dirty
  * catalog data. A `levenshtein(a, b) <= d` predicate has no equi key, so
  * naive Spark executes it as a broadcast nested-loop join: O(n·m)
  * distance computations — hopeless when both sides are large.
  *
  * Blocking is pigeonhole segmenting (the PassJoin scheme): split each
  * RIGHT string into d+1 contiguous segments — at most d edits can touch
  * at most d segments, so any string within distance d contains at least
  * one segment EXACTLY, at a position shifted by at most d. The LEFT side
  * therefore extracts, for every candidate right-length L in [len±d] and
  * every segment index, the substrings in that ±d position window, and the
  * two sides equi-join on (segment_index, right_length, segment_text).
  * Exact `levenshtein` runs on co-blocked candidates only.
  *
  * Note position windows are essential: segmenting BOTH sides and joining
  * segment-for-segment (the simhash-chunk shape) is unsound for edit
  * distance — one insertion shifts every later segment boundary, e.g.
  * "abcdef"/"abcdeXf" at d=1 share no aligned segment.
  *
  * Scale shape: the block-and-verify core runs over DISTINCT strings —
  * each distinct right string emits d+1 keys, each distinct left string
  * at most (2d+1)²·(d+1) (75 at d=2, deduped) — so candidate volume is
  * bounded by exact 10-char-ish substring collisions over the NAME
  * SPACE, not by row counts or the length histogram (the previous
  * length-band form degenerated to a near-cross-join within each band:
  * ~4M distance evals at sf0.1 on part names; the row-grain form
  * multiplied candidates by the product of the two sides' per-name
  * multiplicities and OOM'd the 100x soak). Row multiplicity re-enters
  * only via linear equi-joins on matched names. Recall is exact;
  * candidates are verified with the true distance predicate.
  */
object Fuzzy {

  /** Even partition of a length-`strLen` string into `k` segments (first
    * `strLen % k` segments one char longer): 0-based start and length of
    * segment `i`, as Column arithmetic.
    */
  private def segBounds(strLen: Column, i: Int, k: Int): (Column, Column) = {
    val base = floor(strLen / k).cast("int")
    val rem = pmod(strLen, lit(k)).cast("int")
    val li = when(lit(i) < rem, base + 1).otherwise(base).cast("int")
    val pi = (lit(i) * base + least(lit(i), rem)).cast("int")
    (pi, li)
  }

  /** Distinct candidate pairs (all left columns ++ all right columns)
    * whose segment blocks collide — a superset of the true result by the
    * pigeonhole argument above. Used by the selectivity gate in
    * MergeFuzzySpec; the join itself dedups AFTER the cheap bounded
    * distance filter (see [[editDistanceJoin]]).
    */
  private[operators] def candidatePairs(left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String, maxDist: Int): DataFrame =
    rawCandidates(left, right, leftCol, rightCol, maxDist)
      .distinct()

  /** Segment-block collision pairs WITH witness multiplicity (a pair
    * appears once per colliding (segment, offset) witness, ~2x on the
    * fixture) — deduping here would shuffle the full candidate volume;
    * the caller filters first and dedups the survivors.
    */
  private def rawCandidates(left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String, maxDist: Int): DataFrame = {
    val k = maxDist + 1
    val rLen = length(col(rightCol))
    val segs = array((0 until k).map { i =>
      val (pi, li) = segBounds(rLen, i, k)
      struct(lit(i).as("i"), rLen.as("tlen"),
        col(rightCol).substr(pi + 1, li).as("s"))
    }: _*)
    val r = right.withColumn("__seg", explode(segs))
    val m = length(col(leftCol))
    // multi-match-aware window: if the pair is within distance d and
    // segment i is untouched, its image in the left string starts at
    // pi + off where edits_before >= |off| and edits_after >= |off - D|
    // (D = len(left) - len(right) = -dl), so |off| + |off + dl| <= d —
    // offsets outside that diamond cannot witness a true match
    val probes: Seq[Column] = for {
      dl <- (-maxDist to maxDist).toSeq
      i <- 0 until k
      off <- -maxDist to maxDist
      if math.abs(off) + math.abs(off + dl) <= maxDist
    } yield {
      val tlen = (m + dl).cast("int")
      val (pi, li) = segBounds(tlen, i, k)
      val start = pi + off
      val valid = (tlen >= 0) && (start >= 0) && (start + li <= m)
      when(valid, struct(lit(i).as("i"), tlen.as("tlen"),
        col(leftCol).substr(start + 1, li).as("s"))).otherwise(lit(null))
    }
    // The left side carries the expansion (up to 75 probe keys/row) and,
    // post-join, every candidate's distance eval (right is tiny and
    // broadcast, so the join inherits LEFT's partitioning):
    // editDistanceJoin hands in an explicitly repartitioned frame, and
    // candidatePairs' shuffle-free input is widened by the session's
    // width rule (Par.WidenHeavyStages).
    val l = left.withColumn("__seg",
      explode(array_distinct(filter(array(probes: _*), _.isNotNull))))
    l.join(r, Seq("__seg")).drop("__seg")
  }

  /** Edit-distance join: pairs from `left` × `right` with
    * `levenshtein(left(leftCol), right(rightCol)) <= maxDist`. Output
    * keeps all left/right columns plus `dist`; pairs are emitted with set
    * semantics (fully-identical duplicate input rows collapse). Exact
    * (full recall): blocking only discards pairs the distance predicate
    * would reject.
    */
  def editDistanceJoin(left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // The final re-expansion resolves output columns BY NAME across both
    // inputs, so a shared column name (or a pre-existing `dist`) would
    // become an ambiguous reference deep inside the join — surface the
    // contract violation here instead (mergeUpsert-style schema check).
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"left and right column names must be disjoint, both have: " +
        overlap.toSeq.sorted.mkString(", "))
    require(!left.columns.contains("dist") && !right.columns.contains("dist"),
      "neither input may already contain a 'dist' column (reserved for " +
        "the output distance)")
    // Distance work runs at STRING grain, not row grain: real catalogs
    // (and the key-shifted 100x fixture) carry heavy name multiplicity,
    // and the segment-block equi-join multiplies candidates by the
    // PRODUCT of the two sides' per-name multiplicities — the 100x soak
    // measured the row-grain form OOMing on exactly that (the same ~20k
    // distinct names on each side at 100 copies each = 10,000x the
    // candidate volume for 100x the rows). Matching distinct strings
    // bounds the candidate volume and every distance eval by the NAME
    // SPACE, which grows far slower than the fact tables; row
    // multiplicity returns only through two linear equi-joins on the
    // matched names.
    // Explicit-width name frames: repartition BEFORE the distinct, keyed
    // on the name column, so the aggregate reuses the exchange (no second
    // shuffle) and the post-distinct stage — which carries the probe
    // expansion and every distance eval — keeps `par` partitions. AQE
    // respects a user-specified partition count, where it would coalesce
    // the small post-distinct exchange to one task (the width rule leaves
    // stages that start at an exchange alone).
    val par = left.sparkSession.sparkContext.defaultParallelism
    val ln = left.select(col(leftCol))
      .repartition(par, col(leftCol)).distinct()
    val rn = right.select(col(rightCol))
      .repartition(par, col(rightCol)).distinct()
    // threshold-bounded levenshtein: banded DP, O(d·n) per pair instead
    // of O(n²), returns -1 past the bound. Eval-count discipline (the
    // hot loop is distance evals over the multiplied candidates):
    //   - the pre-dedup filter is a SINGLE `!= -1` comparison, which
    //     Catalyst turns into the join condition — one eval per raw
    //     candidate (a `0 <= dist <= d` spelling evaluates it twice,
    //     and projecting `dist` pre-filter re-inlines it a third time);
    //   - `dist` is projected only after the distinct, over true matches
    //     (the Aggregate is an inlining barrier), so the total is
    //     |raw candidates| + |matches| evals, not 3x|raw candidates|.
    val namePairs = rawCandidates(ln, rn, leftCol, rightCol, maxDist)
      .filter(levenshtein(col(leftCol), col(rightCol), maxDist) =!= -1)
      .distinct()
      .withColumn("dist",
        levenshtein(col(leftCol), col(rightCol), maxDist))
    // distinct inputs make the re-expansion duplicate-free, which is the
    // documented set semantics without a full-output-width distinct.
    // Both frames are hash-repartitioned ON THEIR JOIN KEY at default
    // parallelism: the re-expansion joins multiply rows by per-name
    // multiplicity, and AQE coalesces the small post-distinct exchanges
    // to ONE partition (the map-stage stats cannot see the blow-up), so
    // without the explicit width the entire expansion lands on a single
    // task (measured: 534 s for q82 at the 100x fixture; spread it is
    // seconds). Keying the repartition on the join column lets the
    // equi-joins reuse the exchange — no additional shuffle, just an
    // AQE-proof width.
    // Par.shuffleJoin: AQE would otherwise BROADCAST the matched-pair
    // frame off its compressed size (it grows with the name space — the
    // q27 failure shape) and ignore the exchanges staged above.
    left.distinct().repartition(par, col(leftCol))
      .join(Par.shuffleJoin(namePairs), leftCol)
      .join(Par.shuffleJoin(
        right.distinct().repartition(par, col(rightCol))), rightCol)
      .select(left.columns.map(col) ++ right.columns.map(col)
        :+ col("dist"): _*)
  }

  /** Fixture wiring (q82): resolve typo'd probe names back to the part
    * catalog. Probes are a deterministic corruption (every 23rd part,
    * 3rd character deleted) so both engines derive the identical probe
    * set; each probe must re-find its source (distance 1) and may match
    * other catalog rows within distance 2 (the part namespace is dense).
    */
  def partNameResolution(spark: SparkSession, dir: String): DataFrame = {
    val maxDist = 2
    val part = new Engine(spark, dir).table("part")
    val probes = part
      .filter(pmod(col("p_partkey"), lit(23)) === 5)
      .select(col("p_partkey").as("probe_key"),
        concat(substring(col("p_name"), 1, 2),
          substring(col("p_name"), 4, 10000)).as("probe_name"))
    val catalog = part.select(col("p_partkey").as("match_key"),
      col("p_name").as("match_name"))
    editDistanceJoin(probes, catalog, "probe_name", "match_name", maxDist)
      .select(col("probe_key"), col("probe_name"), col("match_key"),
        col("match_name"), col("dist"))
      .orderBy(col("probe_key"), col("match_key"))
  }

  /** Blocked Jaro-Winkler similarity profile of the part-name namespace:
    * block on the first name token (the standard record-linkage blocking
    * key), score within-block pairs with the native
    * [[graft.functions.JaroWinkler]] expression, and roll up per block.
    * The output is deliberately THRESHOLD-FREE — pair counts, identical-
    * name pairs (JW = 1 iff the strings are equal), and rounded
    * mean/max — because a similarity cutoff would compare a double
    * against a decimal boundary that real pairs can sit on, which no
    * cross-engine contract survives; consumers pick their own cutoff
    * downstream.
    *
    * Scale shape — the hot-block cap: the block vocabulary is BOUNDED
    * (~92 first tokens), so block MEMBERSHIP grows linearly with the
    * catalog and uncapped all-pairs scoring grows quadratically (the
    * round-12 soak measured 238× wall for 10× parts). Each block is
    * therefore profiled over its `maxBlock` smallest part keys — a
    * deterministic, order-free subset computed by the map-side-bounded
    * [[graft.functions.MinK]] aggregate (NOT a rank window, which would
    * ship every member of a hot block to one task). The keep-list is
    * ≤ |vocabulary| × maxBlock rows — broadcast to the catalog scan —
    * and the scored volume is ≤ |vocabulary| × C(maxBlock, 2) pairs,
    * INDEPENDENT of catalog size; `block_n` reports the true block size
    * so a reader can see when the profile is a subset. At the sf0.01
    * oracle scale every block is under the cap, so the profile equals
    * the exhaustive one (pinned in MergeFuzzySpec).
    */
  def nameSimilarityProfile(spark: SparkSession, dir: String,
      maxBlock: Int = 128): DataFrame = {
    val p = new Engine(spark, dir).table("part")
      .select(col("p_partkey"), col("p_name"),
        split(col("p_name"), " ").getItem(0).as("blk"))
    // keep-list rows CARRY block_n so the (tiny, ≤ vocabulary × maxBlock
    // row) MinK aggregation runs once and block_n rides the broadcast —
    // no second aggregation or join at the end
    val keepList = p.groupBy(col("blk"))
      .agg(graft.functions.MinK.column(col("p_partkey"), maxBlock)
        .as("__keep"), count(lit(1)).as("block_n"))
      .select(col("blk"), col("block_n"),
        explode(col("__keep")).as("p_partkey"))
    val kept = p.join(broadcast(keepList), Seq("blk", "p_partkey"))
    val r = kept.select(col("blk"), col("p_partkey").as("pk2"),
      col("p_name").as("name2"))
    val sim = graft.functions.TextExpressions
      .jaroWinkler(col("p_name"), col("name2"))
    kept.join(r, "blk")
      .filter(col("p_partkey") < col("pk2"))
      .select(col("blk"), col("block_n"), sim.as("sim"))
      .groupBy(col("blk"), col("block_n"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("sim") === 1.0, 1L).otherwise(0L)).as("n_identical"),
        round(avg(col("sim")), 6).as("mean_sim"),
        round(max(col("sim")), 6).as("max_sim"))
      .orderBy(col("blk"))
  }
}
