package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level training-data pipeline operators: repetition/quality
  * filtering (Gopher-style), deterministic train/val/test splits, and
  * TF-IDF term scoring.
  *
  * All are single-shuffle-chain aggregations over an exploded
  * (doc_id, token) relation — no driver-side iteration, no UDFs, no
  * collect — so they run unchanged on a 100 TB corpus: the shuffle keys
  * ((doc_id, token), then doc_id / token) are fine-grained and skew-free,
  * and every aggregate is map-side-partial (HashAggregateExec).
  *
  * Two tokenizers, each with its own oracle form. [[words]] is the
  * single-space split (`string_split(text, ' ')`): the counts frames
  * ([[tokenCounts]], [[bigramCounts]]) and every operator built on
  * them, the per-source token rollups, the span, prefix and repetition
  * cuts, and the word counts ([[wordCount]]). `TextAnalysis.tokens` is
  * the trimmed `\s+` split: the BM25 family ([[bm25TopDocs]],
  * [[bm25Retrieval]], [[chunkRetrieval]]), [[oovRate]], the token
  * budgets ([[packSequences]], [[curriculumEpochs]], [[chunkSpans]],
  * [[mixtureSample]]) and the quality-score family
  * ([[topQualityPerGroup]], [[qualityTierReport]], [[scoreCalibration]],
  * [[tfidfCosinePairs]]' length floor).
  *
  * The shared counts frames are keyed: every operator that reads them
  * takes a required `datasetKey` naming the exact docs frame. The frame
  * is built once per (session, kind, key) and lives until
  * [[Scratch.invalidate]]; a keyed call whose docs frame is not
  * semantically the one the entry was built from fails fast (the
  * `sameResult` guard in [[sharedCounts]]).
  *
  * The reference has no text operators (its whole surface is the OLAP
  * client in `oec.py`); these belong to the [EXT] pipeline scope
  * (SURVEY §2.11).
  */
object Corpus {

  import org.apache.spark.sql.Column

  /** Knuth multiplicative hash of a doc id, wrap-safe: the id is masked
    * to its low 31 bits BEFORE the multiply, so the product is bounded by
    * (2^31-1)·2654435761 < 2^63 and never overflows a signed 64-bit int.
    * Without the mask, ids ≥ ~2^32 wrap silently in non-ANSI Spark while
    * an ANSI oracle traps — the membership contract would change meaning
    * past the overflow point. Same form as [[graft.sources.Sink.shardOf]];
    * every oracle recomputes it with the identical masked expression.
    */
  def docHash(id: Column): Column =
    id.bitwiseAND(lit(0x7FFFFFFFL)) * lit(2654435761L)

  /** The deterministic membership draw every sampler here uses: a doc is
    * kept when its [[docHash]] bucket out of 1e6 falls under
    * `floor(rate · 1e6)`. */
  private[graft] def hashDraw(rate: Column): Column =
    pmod(docHash(col("doc_id")), lit(1000000L)) < floor(rate * lit(1000000.0))

  /** The single-space word split of a text column. */
  private[graft] def words(text: Column): Column = split(text, " ")

  /** The number of [[words]] of a text column, as a long. */
  private[graft] def wordCount(text: Column): Column =
    size(words(text)).cast("long")

  /** (doc_id, gram): each doc's distinct word `n`-gram shingles. */
  private[graft] def grams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.TextAnalysis.shingles(col("text"), n)).as("gram"))

  /** ceil(`tokens` / `chunkTokens`) in integer arithmetic. */
  private[graft] def chunkCount(tokens: String, chunkTokens: Int): Column =
    expr(s"($tokens + ${chunkTokens - 1}) div $chunkTokens")

  /** Shannon entropy in nats, 3 dp, of the counts `n` of one group — an
    * aggregate, by the identity H = ln N − Σ n·ln n / N, so the inner
    * term is a plain map-side-combinable SUM (no ratio inside the
    * aggregate, no second pass). */
  private[graft] def entropy(n: Column): Column =
    round(log(sum(n).cast("double")) - sum(n * log(n.cast("double"))) / sum(n), 3)

  /** Text lowercased, stripped to `[a-z0-9 ]`, with runs of spaces
    * squeezed and the ends trimmed — the normalizing-dedup key. */
  private[graft] def normText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** `df` left-joined on doc_id with a keep-list: `__k` is 1 for kept
    * docs and null otherwise. */
  private[graft] def keepFlag(keep: DataFrame)(df: DataFrame): DataFrame =
    df.join(keep.select(col("doc_id"), lit(1).as("__k")), Seq("doc_id"), "left")

  /** An id-ordered pair frame (doc_a, doc_b, …) seen from both ends:
    * (doc_id, partner, `carry`…) once per endpoint. */
  private[graft] def bothWays(pairs: DataFrame, carry: Column*): DataFrame =
    pairs.select(col("doc_a").as("doc_id") +: col("doc_b").as("partner") +: carry: _*)
      .unionAll(pairs.select(
        col("doc_b").as("doc_id") +: col("doc_a").as("partner") +: carry: _*))

  /** Exploded per-document token counts: (doc_id, tok, cnt). Documents
    * are single-space tokenized (matches the fixture corpus and the
    * ANSI-SQL `string_split(text, ' ')` oracle form exactly).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))

  /** Session-memoized full-corpus counts frames — the token-level analog
    * of the [[Dedup]] pair memo: eight registered queries aggregate the
    * exploded (doc_id, tok, cnt) relation and three the bigram form,
    * each over the same documents table, so the tokenize+explode+count
    * shuffle is paid once per session instead of once per consumer
    * (8 corpus scans → 1 at any corpus size — at the 100 TB point that
    * is the difference between reading the text eight times and once).
    * A [[Scratch.memo]] keyed by (session, kind, datasetKey); an entry
    * lives until [[Scratch.invalidate]] — a caller rewriting the dataset
    * mid-session must invalidate, the pair-memo contract.
    *
    * The key is TRUSTED and the docs frame is otherwise ignored on a
    * hit, so `datasetKey` must uniquely identify the EXACT docs frame —
    * a filtered/derived frame passes its own distinct key. Misuse is
    * guarded: each entry retains the analyzed docs plan it was built
    * from and compares with `sameResult` (full canonicalized-plan
    * equality, not a hash — an Int `semanticHash` could collide and
    * silently serve the wrong counts, the exact failure the guard
    * exists to prevent), and a keyed call whose docs frame does not
    * semantically match the memoized entry's fails fast instead of
    * silently returning another frame's counts.
    */
  private def sharedCounts(docs: DataFrame, kind: String,
      datasetKey: String)(build: DataFrame => DataFrame): DataFrame = {
    // sameResult is plan-analysis only (no job): same source + same
    // transformations compare equal, a different or filtered frame
    // reusing the key is caught at the call site. The retained plan is
    // an analyzed tree (columns + source paths), driver-heap noise next
    // to the memoized frame's blocks.
    val docsPlan = docs.queryExecution.analyzed
    val (memoPlan, frame) = Scratch.memo(docs.sparkSession,
      "corpusCounts", (kind, datasetKey))(
      (docsPlan, build(docs).transform(Scratch.stageShared)))
    require(memoPlan.sameResult(docsPlan),
      s"shared counts memo for datasetKey='$datasetKey' (kind=$kind) was " +
        "built from a semantically different docs frame — a datasetKey " +
        "must uniquely identify the exact docs frame; pass a distinct key " +
        "for filtered/derived frames, or Scratch.invalidate first if the " +
        "dataset was rewritten")
    frame
  }

  /** [[tokenCounts]] through the session memo. */
  def tokenCountsShared(docs: DataFrame, datasetKey: String): DataFrame =
    sharedCounts(docs, "tok", datasetKey)(tokenCounts)

  /** [[bigramCounts]] through the session memo. */
  def bigramCountsShared(docs: DataFrame, datasetKey: String): DataFrame =
    sharedCounts(docs, "bg", datasetKey)(bigramCounts)

  /** Forwards to [[Scratch.invalidate]], which drops EVERY memo kind of
    * `spark`, not only the counts frames — that can only force a
    * rebuild, never change a result. */
  def invalidateSharedCounts(
      spark: org.apache.spark.sql.SparkSession): Unit =
    Scratch.invalidate(spark)

  /** Gopher-style per-document repetition metrics and a keep flag:
    *   - dup_ratio: 1 - distinct/total tokens (repeated-token mass);
    *   - top_ratio: most frequent token's share of the document;
    *   - mean_tok_len: token-length mean, computed inside the same
    *     aggregation (sum(len(tok)*cnt)/total) so no join back to text.
    * The keep decision compares the UNROUNDED doubles (both engines
    * compute them with the identical op order, so the flag is stable);
    * the reported ratios are rounded for the result surface.
    */
  def qualityFilter(docs: DataFrame, datasetKey: String): DataFrame = {
    val minTokens = 20
    val maxDupRatio = 0.6
    val maxTopRatio = 0.15
    val total = col("n_tokens").cast("double")
    val dup = lit(1.0) - col("distinct_tokens").cast("double") / total
    val top = col("top_count").cast("double") / total
    tokenCountsShared(docs, datasetKey)
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as("n_tokens"),
        count(lit(1)).cast("int").as("distinct_tokens"),
        max(col("cnt")).cast("int").as("top_count"),
        sum(length(col("tok")) * col("cnt")).cast("long").as("tok_chars"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_tokens"),
        round(dup, 4).as("dup_ratio"),
        round(top, 4).as("top_ratio"),
        round(col("tok_chars").cast("double") / total, 4).as("mean_tok_len"),
        (col("n_tokens") >= minTokens && dup < maxDupRatio &&
          top < maxTopRatio).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test assignment by Knuth multiplicative
    * hash of doc_id (2654435761 = floor(2^32/phi)). Reproducible across
    * engines, runs, and cluster sizes — no RNG state, no sampling
    * nondeterminism — which is what a training pipeline actually needs
    * from a split: stable membership under re-runs and backfills.
    */
  def splitAssign(docs: DataFrame): DataFrame = {
    val trainPct = 80
    val valPct = 10
    docs
      .withColumn("bucket", pmod(docHash(col("doc_id")), lit(100)))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .drop("bucket")
  }

  /** Per-(lang, split) cardinality + size stats — the stratification
    * report for [[splitAssign]].
    */
  def trainSplitStats(docs: DataFrame): DataFrame =
    splitAssign(docs)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("lang"), col("split"))

  /** Deterministic per-group cap — keep at most `cap` docs per group,
    * chosen by multiplicative-hash order (stable across runs, engines,
    * and cluster sizes). This is the corpus-balancing primitive (cap the
    * dominant language/source); the rank filter compiles to
    * WindowGroupLimit, so each partition keeps only `cap` rows per group
    * before the shuffle — no full per-group sort materializes.
    */
  def balancedSample(docs: DataFrame, groupCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(pmod(docHash(col("doc_id")), lit(1000000007L)),
        col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .drop("rn")
  }

  /** Packing efficiency report: the one-row audit of a
    * [[packSequences]] layout — bins used, total token mass, fill
    * utilization of the non-final bins, and how many documents straddle
    * a bin boundary (each straddle is a truncation or a cross-bin
    * attention mask, the quantity a packing budget is tuned against).
    * Derived entirely from the pack offsets, so it shares the
    * distributed prefix sum; the report itself is a 1-row aggregate.
    */
  def packingReport(docs: DataFrame, budget: Int = 2048): DataFrame = {
    val packed = packSequences(docs, budget)
    packed.agg(
      (max(col("bin")) + 1).cast("long").as("bins_used"),
      sum(col("n_tokens")).cast("long").as("total_tokens"),
      count(when(col("bin_offset") + col("n_tokens") > budget, lit(1)))
        .cast("int").as("n_straddling"),
      // layout density: token mass over the allocated bin capacity. A
      // doc belongs to the bin its START falls in, so straddlers can
      // push density marginally past 1 — that overhang is exactly the
      // truncation/cross-bin mass n_straddling counts.
      round(sum(col("n_tokens")).cast("double") /
        ((max(col("bin")) + 1).cast("double") * budget), 4)
        .as("density"))
  }

  /** Multi-benchmark decontamination sweep: verbatim n-gram overlap of
    * the corpus against MANY eval suites in ONE corpus pass. A real
    * pipeline decontaminates against dozens of benchmarks; calling
    * [[decontaminate]] per suite re-shingles the entire corpus per
    * suite, while this tags each suite's (small) gram set, unions the
    * tags into one broadcast build side, and probes it with the single
    * exploded corpus-gram relation — N suites for one corpus scan, the
    * per-(doc, suite) hit counts falling out of one aggregation.
    */
  def decontaminateMany(docs: DataFrame, benches: Seq[(String, DataFrame)],
      n: Int = 8): DataFrame = {
    val tagged = benches.map { case (name, b) =>
      grams(b, n).select(lit(name).as("eval_set"), col("gram")).distinct()
    }.reduce(_ unionAll _)
    grams(docs, n)
      .join(broadcast(tagged), "gram")
      .groupBy(col("doc_id"), col("eval_set"))
      .agg(count(lit(1)).cast("int").as("n_hit_grams"))
      .orderBy(col("doc_id"), col("eval_set"))
  }

  /** Best-of-per-group selection: the top `k` HIGHEST-QUALITY documents
    * per group — the SFT-style curation pick ("the best 1000 docs per
    * language"), complementing [[balancedSample]]'s hash-RANDOM cap with
    * a merit order. Ranking uses the unrounded engine-portable quality
    * score (q23's bit-identical arithmetic; ties by doc_id), so the
    * selection is stable across runs, engines, and cluster sizes.
    *
    * Scale shape: the rank filter compiles to WindowGroupLimit — each
    * partition keeps only `k` rows per group BEFORE the group shuffle,
    * so a billion-doc language ships k rows per partition, not a
    * full per-group sort.
    */
  def topQualityPerGroup(docs: DataFrame, groupCol: String, k: Int): DataFrame = {
    val q = graft.functions.TextAnalysis.qualityScore(col("text"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__q").desc, col("doc_id"))
    docs
      .withColumn("__q", q)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(groupCol), col("rn"), col("doc_id"),
        round(col("__q"), 4).as("quality"))
      .orderBy(col(groupCol), col("rn"))
  }

  /** End-to-end corpus curation — the composed training-data pipeline:
    * quality filter (repetition thresholds) ∧ near-dup keep-list
    * (canonical representative per cluster) ∧ deterministic split
    * assignment, emitting the curated-corpus manifest
    * (doc_id, lang, split). Each stage is left-semi composed, so the
    * full text never travels past its own stage's shuffle; the
    * deliverable joins back to `docs` by doc_id.
    */
  def curate(docs: DataFrame, pairs: DataFrame, datasetKey: String): DataFrame = {
    val qualityKeep =
      qualityFilter(docs, datasetKey)
      .filter(col("keep")).select(col("doc_id"))
    val dedupKeep = Dedup.keepList(docs, pairs)
    splitAssign(docs).select(col("doc_id"), col("lang"), col("split"))
      .join(qualityKeep, Seq("doc_id"), "left_semi")
      .join(dedupKeep, Seq("doc_id"), "left_semi")
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: flag corpus documents that share any word
    * n-gram with an eval/benchmark set — the standard screen against
    * test-set leakage into training data.
    *
    * Scale shape: the benchmark side is tiny relative to the corpus (eval
    * suites are thousands of docs against billions), so its distinct
    * grams are broadcast and the probe is a map-side hash join over the
    * exploded corpus grams — the only shuffle is the final per-doc count
    * aggregation, keyed by doc_id (fine-grained, skew-free). Shingles are
    * per-doc distinct ([[TextAnalysis.shingles]]), so `n_hit_grams`
    * counts distinct leaked grams without a countDistinct.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int = 8): DataFrame = {
    val benchGrams = grams(bench, n).select(col("gram")).distinct()
    grams(docs, n)
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_hit_grams"))
      .orderBy(col("doc_id"))
  }

  /** Concat-and-chunk sequence packing: lay documents end to end in a
    * deterministic (multiplicative-hash) order and chunk the token stream
    * into fixed `budget`-token training bins — GPT-style pretraining
    * packing. Emits each document's global token `offset`, its `bin`, and
    * its starting `bin_offset`.
    *
    * Scale shape: the global prefix sum is [[Ranks.globalPrefixSum]] —
    * distributed, never a single-partition window — and the offset is
    * its exclusive form (running sum minus the doc's own tokens). Token
    * counts are integers, so the offsets depend only on the total order
    * (key, doc_id), not on where partitions were cut.
    */
  def packSequences(docs: DataFrame, budget: Int = 2048): DataFrame = {
    val sized = docs.select(
      col("doc_id"),
      graft.functions.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      pmod(docHash(col("doc_id")), lit(1000000007L)).as("__key"))
    tokenOffsets(sized, Seq(col("__key"), col("doc_id")))
      .withColumn("bin", expr(s"tok_offset div $budget"))
      .withColumn("bin_offset", pmod(col("tok_offset"), lit(budget.toLong)))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, n_tokens, tok_offset): the EXCLUSIVE prefix sum of
    * `n_tokens` under the total order `order`, shared by
    * [[packSequences]] (hash order) and [[curriculumEpochs]] (merit
    * order). */
  private def tokenOffsets(sized: DataFrame, order: Seq[Column]): DataFrame =
    Ranks.globalPrefixSum(sized, order, "n_tokens", "__cum")
      .select(col("doc_id"), col("n_tokens"),
        (col("__cum") - col("n_tokens")).as("tok_offset"))

  /** Curriculum epoch assignment: order the corpus by MERIT (the
    * bit-portable quality score, best first), run the token prefix sum,
    * and cut epochs of `epochTokens` each — so epoch 0 is the highest-
    * quality `epochTokens` tokens, epoch 1 the next band, and a
    * quality-curriculum trainer (clean-data-first schedules; anneal or
    * drop the tail) consumes the corpus in epoch order. The merit-order
    * twin of [[packSequences]]' hash-order layout, riding the same
    * distributed prefix sum ([[Ranks.globalPrefixSum]]) — ordering 100 TB by
    * quality costs one range exchange, never a global sort to one node.
    * Ties break to the lowest doc_id; the negated score keys the
    * ascending range partitioner, so best-quality rows land first.
    */
  def curriculumEpochs(docs: DataFrame, epochTokens: Long = 65536L): DataFrame = {
    val sized = docs.select(
      col("doc_id"),
      graft.functions.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      (-graft.functions.TextAnalysis.qualityScore(col("text"))).as("__negq"))
    tokenOffsets(sized, Seq(col("__negq"), col("doc_id")))
      // the score itself stays OFF the output surface deliberately: the
      // ORDER consumes the unrounded, bit-portable double (identical on
      // any ANSI engine), but a rounded score column would sit on the
      // .xxxx5 half-tie boundary where engines' double-rounding
      // conventions diverge (observed: 0.4862 vs 0.4863 at 4dp on one
      // fixture doc). The epoch assignment pins the merit order exactly.
      .select(col("doc_id"), col("n_tokens"),
        expr(s"tok_offset div $epochTokens").cast("int").as("epoch"))
      .orderBy(col("doc_id"))
  }

  /** Temperature resampling across languages: downsample dominant
    * languages toward the alpha=0.5 tempered distribution (keep rate
    * sqrt(min_n / n_l), capped at 1 — the smallest language keeps
    * everything, a language 100x larger keeps 10%). Membership is the
    * deterministic multiplicative hash, so the resample is reproducible
    * across runs, engines, and cluster sizes. Every FP step (double
    * divide, sqrt, multiply, floor) is IEEE-correctly-rounded with the
    * same op order on any ANSI engine, so the keep decision is stable.
    *
    * Scale shape: two aggregations over (lang) — 1 row per language —
    * broadcast back onto the corpus; the per-doc keep test is pure map
    * work.
    */
  def temperatureResample(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min(col("n_docs")).as("min_n"))
    val rated = counts.crossJoin(broadcast(minN))
      .withColumn("rate",
        least(lit(1.0), sqrt(col("min_n").cast("double") / col("n_docs").cast("double"))))
      .select(col("lang"), col("n_docs"), col("rate"))
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(rated), "lang")
      .withColumn("keep", hashDraw(col("rate")))
      .groupBy(col("lang"))
      .agg(first(col("n_docs")).as("n_docs"),
        round(first(col("rate")), 4).as("keep_rate"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Per-document chunk spans: split each document's token stream into
    * fixed-size chunks (the tokenizer-side windowing that feeds a
    * training loader), emitting one row per chunk with its token range.
    * A pure per-row generate (sequence + explode): chunking 100 TB is a
    * scan, no shuffle, and the output is ~rows/chunkTokens larger than
    * the input — never materialized per-executor.
    */
  def chunkSpans(docs: DataFrame, chunkTokens: Int = 512): DataFrame = {
    val n = graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
    docs
      .select(col("doc_id"), n.as("n_tokens"))
      .withColumn("n_chunks", chunkCount("n_tokens", chunkTokens))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        col("chunk_idx"),
        (col("chunk_idx") * chunkTokens).as("token_start"),
        least(col("chunk_idx") * chunkTokens + chunkTokens, col("n_tokens"))
          .as("token_end"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Inverted-index build: token -> document frequency + the first
    * `maxPostings` posting doc_ids (comma-joined, ascending) — the search
    * index construction pass of a corpus pipeline.
    *
    * Scale shape: the posting cap is applied BEFORE collection — a
    * row_number window per token (WindowGroupLimit-prunable) marks the
    * first `maxPostings` docs, and `collect_set(when(rn <= cap, id))`
    * keeps the aggregation buffer bounded per token even for stopwords
    * that appear in every document of a 100 TB corpus; df still counts
    * all postings. The window and the aggregate share the token hash
    * partitioning, so the cap costs no extra shuffle.
    */
  def invertedIndex(docs: DataFrame, maxPostings: Int = 20,
      datasetKey: String): DataFrame = {
    val w = Window.partitionBy(col("tok")).orderBy(col("doc_id"))
    tokenCountsShared(docs, datasetKey)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("tok").as("token"))
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(
            sort_array(collect_set(when(col("rn") <= maxPostings, col("doc_id")))),
            x => x.cast("string")),
          ",").as("postings"))
      .orderBy(col("token"))
  }

  /** Per-document unigram surprisal — the CCNet-style language-model
    * quality signal: avg_surprisal = -Σ cnt·log2(p(tok)) / n_tokens with
    * p(tok) the corpus unigram frequency. Boilerplate/repetitive docs
    * score low (their tokens are corpus-frequent), lexically odd docs
    * score high; both tails are what a pretraining quality filter trims.
    * The heuristic scores ([[qualityFilter]]) look only inside one doc;
    * this one scores each doc AGAINST the corpus distribution — the
    * cheap stand-in for the perplexity filter a real pipeline runs with
    * a trained LM.
    *
    * Scale shape: the unigram table is keyed by token and can be
    * vocabulary-sized, so it is NOT broadcast — the probe is a shuffle
    * join on tok (fine-grained, map-side-combined on both inputs); only
    * the 1-row corpus total is broadcast. Two aggregations + one join,
    * all over the exploded (doc_id, tok) relation.
    */
  def unigramSurprisal(docs: DataFrame, datasetKey: String): DataFrame =
    surprisal(tokenCountsShared(docs, datasetKey), "tok", "tf", "tokens")

  /** Per-document average surprisal under the corpus' own LM over a
    * (doc_id, `gram`, cnt) counts frame: the LM aggregate (`lm` per
    * gram), the 1-row corpus total, their join, then
    * `-Σ cnt·log2(lm / total) / Σ cnt` per doc, reported with the doc's
    * gram count `n_<unit>`. The counts frame has three consumers (the
    * LM, the total and the probe side of the join), so it is always the
    * session-shared, materialized one — never three tokenize passes.
    */
  private def surprisal(counts: DataFrame, gram: String, lm: String,
      unit: String): DataFrame = {
    val model = counts.groupBy(col(gram)).agg(sum(col("cnt")).as(lm))
    val total = counts.agg(sum(col("cnt")).cast("double").as(s"corpus_$unit"))
    counts.join(model, gram)
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as(s"n_$unit"),
        round(
          -sum(col("cnt").cast("double") *
            log2(col(lm).cast("double") / col(s"corpus_$unit"))) /
            sum(col("cnt")).cast("double"), 4).as("avg_surprisal"))
      .orderBy(col("doc_id"))
  }

  /** Exploded per-document bigram counts WITH multiplicity (unlike
    * `TextAnalysis.shingles`, which dedups for Jaccard): (doc_id, bg,
    * cnt). Guarded for sub-2-token docs — Spark's `sequence(1, 0)`
    * counts DOWN, it is not empty.
    */
  def bigramCounts(docs: DataFrame): DataFrame = {
    val toks = words(col("text"))
    val idx = when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
      .otherwise(array().cast("array<int>"))
    val bgs = transform(idx, i =>
      concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))
    docs.select(col("doc_id"), explode(bgs).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-document bigram surprisal — the second-order companion to
    * [[unigramSurprisal]]: avg = -Σ cnt·log2(p(bigram)) / n_bigrams with
    * p from the corpus bigram distribution. Catches locally-fluent but
    * corpus-atypical word SEQUENCES that the unigram signal scores as
    * ordinary (and scores templated boilerplate even lower than the
    * unigram does, since its word pairs repeat corpus-wide).
    *
    * Scale shape identical to the unigram path: the bigram LM table is
    * keyed by bigram (observed-vocabulary², still fine-grained and
    * skew-free) and NOT broadcast; one shuffle join + two aggregations
    * over the exploded relation; only the 1-row total is broadcast.
    */
  def bigramSurprisal(docs: DataFrame, datasetKey: String): DataFrame =
    surprisal(bigramCountsShared(docs, datasetKey), "bg", "bf", "bigrams")

  /** CCNet-style perplexity bucketing: score every document with an
    * n-gram language-model surprisal, rank the corpus, and cut it into
    * head / middle / tail terciles — the classic quality-stratification
    * pass (CCNet trains KenLM on Wikipedia and keeps the low-perplexity
    * head; this engine's LM is the corpus' own unigram+bigram model, the
    * score being the SUM of the two per-doc average surprisals — the sum,
    * not the mean, deliberately: both components are 4dp-rounded (the
    * q94/q99 hash-portable surface), so the sum is again an exact 4dp
    * quantity while a mean could land on a .00005 rounding tie where
    * engines' double-rounding conventions diverge; for ranking the two
    * are order-identical — with bigram falling back to unigram for
    * sub-2-token docs (counted twice, keeping the fallback on the same
    * scale as the two-component score). The bucket —
    * not the raw score — is the USEFUL artifact: mixture recipes say
    * "2 parts head, 1 part middle, drop tail", robust to the absolute
    * scale of whichever LM scored the corpus.
    *
    * Scale shape: the two LM passes are the proven q94/q99 aggregations
    * (one materialized counts frame each, vocab-keyed shuffles); the
    * tercile needs a GLOBAL rank, which runs through
    * [[Ranks.globalRowNumber]] — range partition + positional ids +
    * broadcast offsets, one exchange of the (doc_id, score) frame, never
    * a single-partition window. Bucket = floor(3·(rank−1)/n): pure
    * arithmetic on (rank, n), portable, and exactly balanced regardless
    * of score distribution. Ranks order by the 4dp-rounded component
    * scores (hash-stable across engines, q94/q99-proven) with doc_id as
    * the tie-break, so the cut is deterministic everywhere.
    */
  def perplexityBuckets(docs: DataFrame, datasetKey: String): DataFrame = {
    val uni = unigramSurprisal(docs, datasetKey)
      .select(col("doc_id"), col("avg_surprisal").as("__u"))
    val bi = bigramSurprisal(docs, datasetKey)
      .select(col("doc_id"), col("avg_surprisal").as("__b"))
    val scored = uni.join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("__u") + coalesce(col("__b"), col("__u"))).as("score"))
    Ranks.globalRowNumber(scored, Seq(col("score"), col("doc_id")),
        rankCol = "__rank", totalCol = Some("__n"))
      .select(col("doc_id"), round(col("score"), 4).as("score"),
        when(lit(3) * (col("__rank") - 1) / col("__n") < 1, "head")
          .when(lit(3) * (col("__rank") - 1) / col("__n") < 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary coverage curve: for each probe size k, the fraction of
    * ALL corpus token occurrences covered by the top-k most frequent
    * types — the tokenizer-design artifact (how big must a vocabulary be
    * before OOV mass is negligible; the curve's knee prices the vocab
    * budget, and [[oovRate]] is its per-document companion at one fixed
    * k). Frequency rank uses the distributed [[Ranks.globalRowNumber]];
    * the running mass is a window over rows already FILTERED to
    * rank ≤ max(ks) — bounded by the probe parameter, not by vocabulary
    * size, so the one single-partition window is over ≤ max(ks) rows by
    * construction. A probe k beyond the vocabulary covers everything
    * (coverage 1.0 via the null-join coalesce).
    */
  def vocabCoverage(docs: DataFrame,
      ks: Seq[Int] = Seq(10, 20, 50, 100), datasetKey: String): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "vocabCoverage needs positive probes")
    import docs.sparkSession.implicits._
    val tc = tokenCountsShared(docs, datasetKey)
    val tf = tc.groupBy(col("tok")).agg(sum(col("cnt")).as("f"))
    val total = tc.agg(sum(col("cnt")).cast("double").as("tt"))
    val ranked = Ranks.globalRowNumber(
      tf.withColumn("__negf", -col("f")),
      Seq(col("__negf"), col("tok")), "rank")
    val cum = ranked.filter(col("rank") <= ks.max)
      .withColumn("cum", sum(col("f")).over(
        Window.orderBy(col("rank"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    ks.toDF("vocab_k")
      .join(cum.select(col("rank"), col("cum")),
        col("rank") === col("vocab_k"), "left")
      .crossJoin(broadcast(total))
      .select(col("vocab_k"),
        round(coalesce(col("cum").cast("double"), col("tt")) / col("tt"), 4)
          .as("coverage"))
      .orderBy(col("vocab_k"))
  }

  /** Collocation mining by pointwise mutual information: which adjacent
    * token pairs co-occur far more than their unigram frequencies
    * predict — the multi-word-expression detector ("new york", "machine
    * learning") that feeds tokenizer merge rules, stop-phrase lists, and
    * the boilerplate lexicons span-dedup keys on. PMI(a,b) =
    * log2( p(ab) / (p(a)·p(b)) ) over the corpus bigram/unigram models
    * (the same count frames as q94/q99). `minCount` floors the bigram
    * frequency — PMI's known pathology is that hapax pairs score
    * highest, so rare pairs are excluded rather than smoothed, keeping
    * the score exact on the oracle surface.
    *
    * Scale shape: two counted-explode scans (shared with the surprisal
    * family's materialization discipline), vocab-keyed joins of the
    * bigram frame against the unigram frame on each component, and a
    * bounded global top-k (TakeOrderedAndProject) — the candidate set
    * after the count floor is vocabulary-sized, not corpus-sized.
    */
  def collocations(docs: DataFrame, minCount: Long = 5,
      topK: Int = 20, datasetKey: String): DataFrame = {
    val bc = bigramCountsShared(docs, datasetKey)
    val tc = tokenCountsShared(docs, datasetKey)
    val bf = bc.groupBy(col("bg")).agg(sum(col("cnt")).as("n"))
    val totB = bc.agg(sum(col("cnt")).cast("double").as("tb"))
    val tf = tc.groupBy(col("tok")).agg(sum(col("cnt")).as("tf"))
    val totT = tc.agg(sum(col("cnt")).cast("double").as("tt"))
    bf.filter(col("n") >= minCount)
      .withColumn("__a", element_at(words(col("bg")), 1))
      .withColumn("__b", element_at(words(col("bg")), 2))
      .join(tf.select(col("tok").as("__a"), col("tf").as("__tfa")), "__a")
      .join(tf.select(col("tok").as("__b"), col("tf").as("__tfb")), "__b")
      .crossJoin(broadcast(totB))
      .crossJoin(broadcast(totT))
      .withColumn("__pmi",
        log2((col("n").cast("double") / col("tb")) /
          ((col("__tfa").cast("double") / col("tt")) *
            (col("__tfb").cast("double") / col("tt")))))
      .orderBy(col("__pmi").desc, col("bg"))
      .limit(topK)
      .select(col("bg").as("bigram"), col("n"), round(col("__pmi"), 4).as("pmi"))
  }

  /** Length-weighted deterministic sampler: each doc kept with
    * probability proportional to its size share (n_chars / max n_chars,
    * scaled by `rate`), decided by the same multiplicative-hash
    * membership every sampler here uses — reproducible across runs and
    * cluster sizes, no RNG state. The per-GROUP rate counterpart is
    * [[temperatureResample]]; this is the per-ROW weight form (token-
    * budget-aware calibration sets, importance-weighted eval slices).
    * One 1-row broadcast (the global max) + a pure map; reports the
    * per-lang acceptance so the result is a bounded aggregate.
    */
  def weightedSample(docs: DataFrame, rate: Double = 0.5): DataFrame = {
    val mx = docs.agg(max(col("n_chars")).cast("double").as("max_chars"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .crossJoin(broadcast(mx))
      .withColumn("keep",
        hashDraw(col("n_chars").cast("double") / col("max_chars") * lit(rate)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).cast("long")
          .as("kept_chars"))
      .orderBy(col("lang"))
  }

  /** BM25 top-k document retrieval for a term query — the classic
    * relevance scorer (Robertson/Spärck Jones), the retrieval half of a
    * RAG or query-relevance curation pipeline:
    * score(doc) = Σ_terms idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (the Lucene form,
    * always positive).
    *
    * Scale shape: ONE corpus scan total (round 18; was two). A single
    * tokenize pass stages the doc-grain (dl, in-row-pruned query-term
    * occurrences) frame; corpus stats aggregate those blocks and the tf
    * explode emits only query-term rows, so the shuffle holds at most
    * |terms| rows per doc and no join back to the corpus is needed.
    * df (|terms| rows) and stats are broadcast; the final top-k is
    * TakeOrderedAndProject. FP op order matches the registered oracle
    * exactly (constants written as the same expressions,
    * left-associated), so scores hash-compare at 4 dp.
    */
  def bm25TopDocs(docs: DataFrame, terms: Seq[String], topK: Int = 10): DataFrame = {
    require(terms.nonEmpty, "bm25TopDocs needs at least one query term")
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    // ONE corpus scan for stats AND tf (round 18, guide §1.2/§2.3): the
    // per-doc frame keeps the full-doc length alongside the query-term
    // occurrences pruned IN-ROW (the HOF filter preserves duplicates, so
    // tf counts are intact), replacing the old TWO full tokenize passes
    // (a stats scan + the tf scan) and the tf scan's explode-every-token
    // row flow (fact × tokens rows built just to be dropped by the
    // IN-list). The frame is doc-grain bounded (a double + ≤|query-term
    // occurrences| strings per doc) — safe to stage; stats reads the
    // same checkpointed blocks instead of re-scanning the corpus. The
    // two __toks consumers live in one Project over a separate tokenize
    // Project — CollapseProject keeps the non-cheap split() single
    // because its alias is referenced twice.
    val perDoc = docs
      .select(col("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("double").as("dl"),
        filter(col("__toks"), t => t.isin(terms: _*)).as("__kept"))
      .transform(Scratch.staged)
    // tf's two consumers (df and the score join) share the aggregate's
    // exchange via ReusedExchange; the frame is query-term rows only.
    val (tf, stats) = bm25Terms(perDoc)
    bm25Rollup(tf.join(broadcast(docFreq(tf)), "tok")
        .crossJoin(broadcast(stats)), col("doc_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** BM25 summed per `keys` over rows carrying (cnt, dl, df, n_docs,
    * avgdl): (keys…, bm25 rounded to 4 dp, n_terms). The per-(doc, term)
    * summand at k1 = 1.2, b = 0.75 is written here once for
    * [[bm25TopDocs]], [[bm25Retrieval]] and [[chunkRetrieval]], so all
    * three stay FP-op-order-identical to the oracle.
    */
  private def bm25Rollup(scored: DataFrame, keys: Column*): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val score = idf * (col("cnt").cast("double") * (lit(k1) + lit(1.0))) /
      (col("cnt").cast("double") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    scored.groupBy(keys: _*)
      .agg(round(sum(score), 4).as("bm25"),
        count(lit(1)).cast("int").as("n_terms"))
  }

  /** A term frame's document frequency per term: (tok, df). */
  private def docFreq(tf: DataFrame): DataFrame =
    tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))

  /** The single-scan BM25 frames over a staged per-doc frame of
    * (doc_id, dl, __kept — the doc's query-term occurrences pruned in
    * row): the term frame (doc_id, tok, cnt, dl) and the 1-row corpus
    * stats (n_docs, avgdl), both read from the same blocks. */
  private def bm25Terms(perDoc: DataFrame): (DataFrame, DataFrame) = {
    val tf = perDoc
      .select(col("doc_id"), col("dl"), explode(col("__kept")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"), first(col("dl")).as("dl"))
    val stats = perDoc.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    (tf, stats)
  }

  /** Batch BM25 retrieval join — per-query top-k over a query TABLE of
    * (query_id, terms array): the retrieval analogue of
    * [[Similarity.knnJoin]], and the pipeline-shaped form of
    * [[bm25TopDocs]] (which scores ONE literal term set).
    *
    * Scale shape: ONE corpus scan regardless of query count in the
    * broadcast regime (round 18; was two) — a single tokenize pass
    * stages the doc-grain frame with the query-term occurrences pruned
    * in-row against the broadcast distinct-term array, and corpus stats
    * aggregate the same blocks; the tf shuffle holds at most |distinct
    * terms| rows per doc; df and corpus stats are broadcast. The
    * shuffle regime keeps the two-pass shape with the shuffle semi-join
    * prune below the (doc_id, tok) aggregation. The per-query fan-out
    * is a broadcast join of the scored tf frame against the exploded
    * (query_id, tok) pairs — the corpus is never re-scanned per query —
    * followed by a (query_id, doc_id) aggregation and a window top-k per
    * query. Terms absent from the corpus contribute no rows (df would be
    * 0) on both engines.
    *
    * `broadcastQueries` ([[Similarity.queryRegime]]): a retrieval BATCH
    * broadcasts (the auto default); when the query table is itself
    * corpus-scale its distinct-term set approaches the full vocabulary
    * (10^8+ distinct tokens on web text — past Spark's broadcast cap),
    * so Some(false) swaps the term semi-join, the df join, and the
    * per-query fan-out to shuffle joins keyed on tok. The output
    * relation is regime-independent (q115's oracle holds for both); the
    * shuffle plan shape is asserted in CorpusPipelineSpec.
    */
  def bm25Retrieval(docs: DataFrame, queries: DataFrame,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val topK = 5
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    val qterms = queries
      .select(col("query_id"), explode(col("terms")).as("tok")).distinct()
    // BROADCAST regime (the retrieval-batch contract — bounded distinct
    // term set): ONE corpus scan serves stats AND tf (round 18, guide
    // §1.2/§2.3). The distinct query terms collapse to a 1-row broadcast
    // array and the prune happens IN-ROW (HOF filter, duplicates
    // preserved for tf), so the old second full-tokenize stats pass and
    // the explode-every-token row flow (fact × tokens rows built just
    // to be dropped by the semi-join) both disappear. The staged frame
    // is doc-grain bounded; stats aggregates its blocks. SHUFFLE regime
    // (corpus-scale term sets — the distinct-term array would not fit a
    // broadcast, let alone a row): the previous two-pass shape with the
    // shuffle semi-join prune, unchanged.
    val (tf, stats) =
      if (Similarity.wantsBroadcast(qterms.select(col("tok")).distinct(),
          broadcastQueries)) {
        val qset = qterms.select(col("tok")).distinct()
          .agg(collect_set(col("tok")).as("__qs"))
        val perDoc = docs
          .select(col("doc_id"), toks.as("__toks"))
          .crossJoin(broadcast(qset))
          .select(col("doc_id"), size(col("__toks")).cast("double").as("dl"),
            filter(col("__toks"),
              t => array_contains(col("__qs"), t)).as("__kept"))
          .transform(Scratch.staged)
        bm25Terms(perDoc)
      } else {
        val st = docs.agg(count(lit(1)).cast("double").as("n_docs"),
          avg(size(toks).cast("double")).as("avgdl"))
        // two consumers (df and the score join) — materialize once
        val tf0 = bm25TfForQueries(docs, qterms, broadcastQueries)
          .transform(Scratch.staged)
        (tf0, st)
      }
    val scored = bm25Rollup(
      tf.join(Similarity.queryRegime(docFreq(tf), broadcastQueries), "tok")
        .crossJoin(broadcast(stats))
        .join(Similarity.queryRegime(qterms, broadcastQueries), "tok"),
      col("query_id"), col("doc_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("doc_id"), col("bm25"),
        col("n_terms"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** RAG-style CHUNK retrieval: BM25 top-k over fixed-size token chunks
    * instead of whole documents — the retrieval granularity a context
    * window actually consumes (a 50k-token doc that mentions the query
    * once should not outrank a chunk that is ABOUT the query; passage
    * scoring is how retrieval corpora are served to RAG systems). The
    * chunk grid is [[chunkSpans]]' (q71); the scoring is [[bm25Retrieval]]'s
    * (q115) with the chunk collection as the corpus: idf over N_chunks,
    * length norm over chunk dl.
    *
    * Scale shape: chunk TEXT is never materialized — tokens posexplode
    * once and `pos div chunkTokens` is the chunk key, so chunking is
    * free on top of the tokenize scan; the term prune (broadcast
    * semi-join against the union of query terms) sits BELOW the
    * (doc, chunk, tok) aggregation, so the shuffle carries only
    * query-term rows. Chunk lengths and counts are arithmetic over
    * per-doc token counts (one tiny frame). This query keeps TWO
    * corpus passes deliberately — the round-18 single-scan A/B is in
    * the method comment inside.
    */
  def chunkRetrieval(docs: DataFrame, queries: DataFrame, chunkTokens: Int = 32,
      topK: Int = 5): DataFrame = {
    val toksArr = graft.functions.TextAnalysis.tokens(col("text"))
    val qterms = queries
      .select(col("query_id"), explode(col("terms")).as("tok")).distinct()
    // TWO corpus passes, deliberately (round-18 triage): the q115-style
    // single-scan in-row prune NEEDS token POSITIONS here (`pos div
    // chunkTokens` is the chunk key), and every positional spelling of
    // the prune (filter over a sequence of indices, or per-token
    // (pos, tok) structs) is an interpreted HOF evaluated once per
    // token — measured 13.4 s min vs 10.7 s for this codegen'd
    // posexplode + broadcast-semi shape at the 100× fixture (same box,
    // same hour; the struct-per-token spelling was worse still). q115's
    // position-free `filter(toks, t -> array_contains(...))` prune wins
    // 2.7× at 100× and keeps its single-scan shape; chunk grain keeps
    // the whole-stage-codegen explode.
    val lens = docs
      .select(col("doc_id"), size(toksArr).cast("long").as("__n"))
      .select(col("doc_id"), col("__n"),
        explode(sequence(lit(0L), chunkCount("__n", chunkTokens) - 1))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(chunkTokens.toLong),
          col("__n") - col("chunk_idx") * chunkTokens).cast("double").as("dl"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    // tf at chunk grain: positional token index keys the chunk
    val tf = docs
      .select(col("doc_id"), posexplode(toksArr).as(Seq("pos", "tok")))
      .withColumn("chunk_idx", expr(s"pos div $chunkTokens").cast("long"))
      .join(broadcast(qterms.select(col("tok")).distinct()), Seq("tok"), "left_semi")
      .groupBy(col("doc_id"), col("chunk_idx"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Scratch.staged)
    val scored = bm25Rollup(
      tf.join(broadcast(docFreq(tf)), "tok")
        .join(lens, Seq("doc_id", "chunk_idx"))
        .crossJoin(broadcast(stats))
        .join(broadcast(qterms), "tok"),
      col("query_id"), col("doc_id"), col("chunk_idx"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id"), col("chunk_idx"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("doc_id"), col("chunk_idx"),
        col("bm25"), col("n_terms"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion (RRF) — the standard
    * two-tower fuse of a LEXICAL ranking ([[bm25TopDocs]]) and a
    * SEMANTIC ranking ([[Similarity.bruteForceTopK]] / its indexed
    * regimes) that retrieval-curation pipelines ship in production:
    * rrf(d) = Σ_lists 1/(rrfK + rank_list(d)) over the lists containing
    * d, which rewards agreement between modalities without having to
    * calibrate BM25 scores against cosines (the whole point of RRF —
    * rank is the only thing fused, so the two scorers' incomparable
    * scales never meet). Documents and embeddings are id-aligned
    * (doc_id = vec_id, the fixture's contract).
    *
    * Scale shape: each candidate list is an already-proven bounded
    * top-`fuseK` (20; the fused list keeps the top 10, `rrfK` = 60) (BM25's two-scan TakeOrderedAndProject; the ANN side an
    * exact scan here, swappable for the IVF probe). Fusion then touches
    * 2×fuseK rows: ranks are windows over those bounded lists (fuseK
    * rows — bounded by the fusion width, a constant, not by data), the
    * merge is a full outer join of two fuseK-row frames, and the final
    * top-k is again a bounded take. Ranks sort on the ROUNDED (4 dp)
    * scores with id tie-breaks — the same values the oracles rank — so
    * fused output is hash-comparable cross-engine.
    */
  def hybridRetrieval(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      queryVecId: Long): DataFrame = {
    val fuseK = 20
    val topK = 10
    val rrfK = 60
    val wLex = Window.orderBy(col("bm25").desc, col("doc_id"))
    val lex = bm25TopDocs(docs, terms, topK = fuseK)
      .withColumn("lex_rank", row_number().over(wLex))
      .select(col("doc_id"), col("lex_rank"))
    val wSem = Window.orderBy(col("cos_sim").desc, col("vec_id"))
    val sem = Similarity.bruteForceTopK(emb, queryVecId, fuseK)
      .withColumn("sem_rank", row_number().over(wSem))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        round(coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("sem_rank")), lit(0.0)), 6))
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
  }

  /** Domain-mixture sampling under a token budget — the pretraining
    * mixture primitive (Pile/DoReMi-style static weights): given
    * relative `weights` per source and a global `tokenBudget`, each
    * source's sampling rate is min(1, budget·w_s / tokens_s) and
    * membership is the deterministic [[docHash]] draw, so the kept set
    * is reproducible across runs and engines (the q100 device). Sources
    * absent from `weights` rate 0 — an explicit decision, not an
    * accident, so a new scrape appearing mid-pipeline contributes
    * nothing until someone weights it. Returns the per-source mixture
    * report: availability, target weight, rate, and the realized
    * doc/token mass — the artifact a data card publishes.
    *
    * Scale shape: ONE corpus scan computes per-doc token counts
    * (checkpointed for its two consumers); rates are a per-source
    * aggregate (bounded by source count — broadcast back), and the keep
    * pass is a map-side join + one source-keyed aggregation. No
    * per-source scans, no shuffle of text.
    */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
      tokenBudget: Long): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("toks"))
      .transform(Scratch.staged)
    val wCol = element_at(
      map(weights.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
      col("source"))
    val rates = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("avail_tokens"))
      .withColumn("target_w", coalesce(wCol, lit(0.0)))
      .withColumn("rate", least(lit(1.0),
        lit(tokenBudget.toDouble) * col("target_w") /
          col("avail_tokens").cast("double")))
    perDoc.join(broadcast(rates), "source")
      .withColumn("keep", hashDraw(col("rate")))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("avail_tokens")).cast("long").as("avail_tokens"),
        round(first(col("target_w")), 4).as("target_w"),
        round(first(col("rate")), 6).as("rate"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("keep"), col("toks")).otherwise(0L)).cast("long")
          .as("kept_tokens"))
      .orderBy(col("source"))
  }

  /** Out-of-vocabulary rate per document against the corpus top-`vocabSize`
    * token vocabulary — the tokenizer-coverage metric a pretraining
    * pipeline tracks (a doc whose tokens mostly fall outside the working
    * vocab is noise, another script, or markup). Vocabulary membership is
    * deterministic: top by total frequency, ties broken by token.
    *
    * Scale shape: one exploded-counts pass (materialized once for its two
    * consumers, as in the surprisal family); the vocabulary is `vocabSize`
    * rows — TakeOrderedAndProject then broadcast — so the per-doc pass is
    * a map-side join + one doc_id-keyed aggregation.
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 100): DataFrame = {
    val tc = docs
      .select(col("doc_id"),
        explode(graft.functions.TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Scratch.staged)
    val vocab = tc.groupBy(col("tok")).agg(sum(col("cnt")).as("tf"))
      .orderBy(col("tf").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("__v"))
    tc.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as("n_tokens"),
        round(
          sum(when(col("__v").isNull, col("cnt")).otherwise(0L)).cast("double") /
            sum(col("cnt")).cast("double"), 4).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /** [[bm25Retrieval]]'s SHUFFLE-regime tf scan (corpus-scale term
    * sets; the broadcast regime uses the single-scan in-row prune
    * inline in [[bm25Retrieval]]): one corpus pass carrying the doc
    * length alongside the exploded tokens, pruned by a left-semi join
    * against the distinct query terms BELOW the (doc_id, tok)
    * aggregation (plan-asserted), so the shuffle carries only
    * query-term rows.
    */
  private[graft] def bm25TfForQueries(docs: DataFrame,
      qterms: DataFrame,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    docs
      .select(col("doc_id"), size(toks).cast("double").as("dl"),
        explode(toks).as("tok"))
      .join(Similarity.queryRegime(qterms.select(col("tok")).distinct(),
        broadcastQueries), Seq("tok"), "left_semi")
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"), first(col("dl")).as("dl"))
  }

  /** TF-IDF top-k terms per document: tf = cnt/doc_total,
    * idf = ln(N/df). N is a 1-row aggregate broadcast-cross-joined in
    * (declarative — no driver-side count action); df comes from a
    * token-key aggregation of the same exploded relation. Ranking uses
    * the unrounded score (identical FP op order on both engines), ties
    * broken by term; the surfaced score is rounded.
    */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 3,
      datasetKey: String): DataFrame = {
    // Two consumers (the scored frame and its df side) — materialize the
    // exploded counts once, as in the surprisal family.
    val tc = tokenCountsShared(docs, datasetKey)
    val dfCounts = tc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val score = (col("cnt").cast("double") / col("total")) *
      log(col("n_docs").cast("double") / col("df"))
    val w = Window.partitionBy(col("doc_id"))
    val rankW = Window.partitionBy(col("doc_id"))
      .orderBy(col("s").desc, col("term"))
    tc.withColumn("total", sum(col("cnt")).over(w).cast("double"))
      .join(dfCounts, "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok").as("term"), score.as("s"))
      .withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("term"), col("rnk"),
        round(col("s"), 4).as("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Train/eval leakage audit: eval-split documents with a near-duplicate
    * in the training split. A test doc that near-dups a train doc leaks
    * the evaluation — its score measures memorization, not
    * generalization — so a split is only trustworthy after this audit
    * returns the offender list (drop them from eval, or re-split). Emits
    * one row per leaking eval doc: its split, how many train near-dups
    * it has, and the worst (max) jaccard among them.
    *
    * Scale shape: the near-dup pair frame is the SHARED memoized one
    * ([[Dedup.minhashPairsShared]] — one row per verified pair),
    * symmetrized and joined twice against the split assignment (itself a
    * pure map over the corpus — [[splitAssign]]'s hash needs no
    * shuffle). Both joins are plain shuffle equi-joins keyed on a doc id
    * — fine-grained, skew-free keys — deliberately NOT broadcast: near-dup
    * pairs are not bounded by corpus size (clusters are near-cliques, so
    * one 1000-member boilerplate cluster alone is ~500k pairs, and a
    * web-scale pair frame runs tens of GB — past Spark's 8 GB broadcast
    * cap and the driver's memory). AQE still promotes either side to a
    * broadcast at runtime when it measures small. The final per-offender
    * aggregation is keyed by leaking doc — bounded by the pair count,
    * not the corpus.
    */
  def leakageAudit(docs: DataFrame, datasetKey: String): DataFrame = {
    val pairs = Dedup.minhashPairsShared(docs, datasetKey)
    val sym = bothWays(pairs, col("jaccard"))
    val splits = splitAssign(docs).select(col("doc_id"), col("split"))
    // shuffle joins on doc ids, PINNED (Par.shuffleJoin): both the split
    // flags and the pair frame grow with the corpus, and AQE's "measured
    // size" is the compressed map output — the q27 failure shape.
    val withOwn = splits.join(Par.shuffleJoin(sym), "doc_id")
    splits.select(col("doc_id").as("partner"), col("split").as("partner_split"))
      .join(Par.shuffleJoin(withOwn), "partner")
      .filter(col("split") =!= "train" && col("partner_split") === "train")
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).cast("int").as("n_leaks"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** The leakage FIX complementing [[leakageAudit]] (which only
    * reports): assign splits, then DROP from train every doc with a
    * near-duplicate in val/test. The drop direction is deliberate —
    * eval sets are small, fixed, and expensive to re-bless, while train
    * data is plentiful, so the train side pays; an eval doc is never
    * moved or removed. `docs.filter(!dropped)` (or a semi-join on the
    * kept ids) is the leakage-free training corpus, and re-running
    * [[leakageAudit]] over it must come back empty — the closure
    * property the spec pins.
    *
    * Scale shape: the 8th consumer of the shared near-dup pair frame
    * ([[Dedup.minhashPairsShared]] — no re-shingle), symmetrized and
    * shuffle-joined on doc-id keys like the audit (no broadcast hint:
    * the pair frame is unbounded at corpus scale); the verdict join back
    * to the split frame is an id-keyed left join.
    */
  def leakageFreeSplit(docs: DataFrame, datasetKey: String): DataFrame = {
    val pairs = Dedup.minhashPairsShared(docs, datasetKey)
    val sym = bothWays(pairs)
    val splits = splitAssign(docs).select(col("doc_id"), col("split"))
    val leaky = splits.join(sym, "doc_id")
      .join(splits.select(col("doc_id").as("partner"),
        col("split").as("partner_split")), "partner")
      .filter(col("split") === "train" && col("partner_split") =!= "train")
      .select(col("doc_id")).distinct()
    splits
      .join(leaky.withColumn("dropped", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
      .orderBy(col("doc_id"))
  }

  /** Token-distribution (Zipf) health report: vocabulary size, total
    * token mass, the log-log slope of frequency vs rank (natural text
    * sits near -1; a slope collapsing toward 0 means boilerplate-flat
    * token use, a steep slope means a degenerate vocabulary), and the
    * mass fraction covered by the top-10 tokens. One row — the corpus
    * fingerprint a pipeline tracks across ingests to catch distribution
    * drift cheaply.
    *
    * Scale shape: one exploded (tok) aggregation (map-side partial,
    * skew-free), then the vocabulary rank via the DISTRIBUTED global-rank
    * machinery ([[Ranks.globalRowNumber]]) — clean text keeps the
    * vocabulary small, but a web-scale token set (typos, URLs, code)
    * reaches 10^8–10^9 distinct tokens, far too many to sort through a
    * single-partition window; the final regression is a 1-row aggregate
    * (`regr_slope`, sum-based and engine-portable inside round(4)).
    */
  def zipfReport(docs: DataFrame, datasetKey: String): DataFrame = {
    val tf = tokenCountsShared(docs, datasetKey)
      .groupBy(col("tok")).agg(sum(col("cnt")).as("f"))
    val ranked = Ranks.globalRowNumber(tf,
      Seq(col("f").desc, col("tok")), "rk")
    ranked.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("f")).cast("long").as("total_tokens"),
      round(regr_slope(log(col("f").cast("double")),
        log(col("rk").cast("double"))), 4).as("zipf_slope"),
      round(sum(when(col("rk") <= 10, col("f")).otherwise(lit(0L)))
        .cast("double") / sum(col("f")).cast("double"), 4).as("top10_coverage"))
  }

  /** Quality-tier curation report: band every document by its quality
    * score at FIXED thresholds and report each tier's doc count, token
    * mass, and mean quality — the FineWeb-style "how much of the corpus
    * survives each quality bar" deliverable that prices a curation
    * decision in tokens before committing to it.
    *
    * Fixed thresholds, not ntile: quantile tiers need a global sort (or
    * the q75 distributed-rank machinery) and their BOUNDARIES drift as
    * the corpus grows — a curation bar must mean the same thing on every
    * shard and every refresh. The banding is pure map work over the
    * scan; the report is one tier-keyed aggregation (3 groups).
    * [[graft.functions.TextAnalysis.qualityScore]] is engine-portable
    * arithmetic (q23's oracle reproduces it bit-for-bit), so the tier
    * decision is stable cross-engine with no FP-boundary caveat.
    */
  def qualityTierReport(docs: DataFrame): DataFrame = {
    val lowCut = 0.65
    val highCut = 0.74
    val q = graft.functions.TextAnalysis.qualityScore(col("text"))
    docs
      .select(graft.functions.TextAnalysis.tokenCount(col("text")).as("__t"),
        q.as("__q"))
      .withColumn("tier", when(col("__q") < lowCut, "1_low")
        .when(col("__q") < highCut, "2_mid").otherwise("3_high"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__t")).cast("long").as("total_tokens"),
        round(avg(col("__q")), 4).as("avg_quality"))
      .orderBy(col("tier"))
  }

  /** Cross-source duplication matrix: near-dup pair counts between every
    * pair of sources — the provenance view of dedup (which scrapes copy
    * from which; a high off-diagonal cell means two "independent" sources
    * overlap and their mixture weights double-count the same content).
    * Source pairs are normalized (least, greatest) so each near-dup pair
    * lands in exactly one unordered cell; within-source duplication sits
    * on the diagonal.
    *
    * Scale shape: same as [[leakageAudit]] — the shared pair frame
    * joins twice against the (doc_id, source) projection as plain
    * shuffle equi-joins on the doc-id keys (the pair frame is unbounded
    * at corpus scale, so no broadcast hint — see [[leakageAudit]]), then
    * a tiny (source, source) aggregation.
    */
  def crossSourceDupMatrix(docs: DataFrame, datasetKey: String): DataFrame = {
    val pairs = Dedup.minhashPairsShared(docs, datasetKey)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val meta = docs.select(col("doc_id"), col("source"))
    val withA = meta.select(col("doc_id").as("doc_a"), col("source").as("sa"))
      .join(pairs, "doc_a")
    meta.select(col("doc_id").as("doc_b"), col("source").as("sb"))
      .join(withA, "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("int").as("n_pairs"),
        round(avg(col("jaccard")), 4).as("avg_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Corpus-level duplicated-span removal (the C4 / RefinedWeb
    * boilerplate cut, adapted to span granularity): chunk each document
    * into NON-OVERLAPPING `n`-token (3) blocks, drop every block whose exact
    * text occurs in more than one document of the corpus (site chrome,
    * license headers, navigation — content that repeats verbatim across
    * pages), and reassemble the survivors in their original order. C4
    * removes duplicated three-sentence spans and RefinedWeb duplicated
    * lines; this fixture's documents are single-line token streams, so
    * the block of `n` tokens is the analogous unit.
    *
    * Emits (doc_id, text_clean, n_spans, n_dropped); a document whose
    * every span is boilerplate survives with empty text (curation decides
    * whether to drop it — this operator only removes the spans).
    *
    * Scale shape: two shuffles — a (span) aggregation counting distinct
    * source docs (map-side partial; the span key space is effectively
    * unbounded so no hot key), then a (doc_id) regroup to reassemble.
    * The span→count join back is an equi-join on the span string; a
    * mega-hot boilerplate span makes the PROBE side skewed on that key,
    * which AQE's skew-join split handles — the build row per key is
    * single. No driver materialization, no all-pairs anything: cost is
    * linear in corpus tokens.
    */
  def dedupSpans(docs: DataFrame): DataFrame = {
    val n = 3
    val toks = words(col("text"))
    // ceil(size/n) blocks; sequence(0,-1) counts DOWN, so guard empties
    val base = docs.select(col("doc_id"), toks.as("__t"))
      .withColumn("__nb", when(size(col("__t")) > 0,
        ceil(size(col("__t")).cast("double") / n).cast("int")).otherwise(lit(0)))
    val spans = base
      .select(col("doc_id"), col("__t"),
        posexplode(when(col("__nb") > 0, sequence(lit(0), col("__nb") - 1))
          .otherwise(array().cast("array<int>"))))
      .select(col("doc_id"), col("pos").as("blk"),
        array_join(slice(col("__t"), col("pos") * n + lit(1), lit(n)), " ")
          .as("span"))
    val counts = spans.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("__nd"))
    // collect_list drops the nulls `when` leaves on boilerplate spans, so
    // one aggregation yields the cleaned text AND both counts; the struct
    // sort key is blk, restoring original span order regardless of
    // partitioning
    // span df lookup: both sides corpus-grain, never broadcast, and the
    // span-string key side is fat — sort-merge (Par.mergeJoin) so the
    // build never holds an unspillable string map; same for the final
    // doc_id stitch whose build side carries full cleaned text
    val rebuilt = spans.join(Par.mergeJoin(counts), "span")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__nd") === 1, struct(col("blk"), col("span"))))),
            s => s.getField("span")),
          " ").as("text_clean"),
        count(col("blk")).as("n_spans"),
        count(when(col("__nd") > 1, lit(1))).as("n_dropped"))
    docs.select(col("doc_id"))
      .join(Par.mergeJoin(rebuilt), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy(col("doc_id"))
  }

  /** Snapshot diff for incremental pipeline runs: classify every doc id
    * across two corpus snapshots as added / removed / changed / unchanged
    * by comparing a scan-stage content hash. A recurring 100 TB pipeline
    * that reprocesses everything on every run pays its full cost daily;
    * with this verdict frame the downstream run reprocesses only
    * `added ∪ changed` and retires `removed` — usually a few percent.
    *
    * Scale shape: text never shuffles — each side reduces to
    * (doc_id, md5) at the scan, so the full-outer equi-join moves two
    * narrow columns per row. Hashes are compared WITHIN one engine only
    * (the verdict, not the hash, is the output), so no cross-engine hash
    * parity is required.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("__oh"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("__nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") === col("__nh"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
      .orderBy(col("doc_id"))
  }

  /** Batching-efficiency report for a fixed context window: bucket
    * documents by token length (`binWidth`-wide bins, 64) and report, per
    * bin, the padding waste (slots burned padding short docs to
    * `contextLen` = 512) and truncation loss (tokens cut from docs longer than
    * it) of naive one-doc-per-row batching, plus the resulting
    * efficiency = kept / (docs × contextLen). This is the measurement
    * that motivates [[packSequences]]: the gap between a bin's
    * efficiency and 1.0 is exactly what packing recovers.
    *
    * Scale shape: one scan, one partial-agg groupBy on a small bounded
    * key (≈ maxLen / binWidth bins) — no joins, no text shuffle (the
    * token count reduces each doc to one long at the scan).
    */
  def paddingWaste(docs: DataFrame): DataFrame = {
    val contextLen = 512
    val binWidth = 64
    val kept = least(col("n_tok"), lit(contextLen.toLong))
    docs.select(wordCount(col("text")).as("n_tok"))
      .withColumn("bin", floor(col("n_tok") / binWidth).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(lit(contextLen.toLong) - kept).as("pad_waste"),
        sum(col("n_tok") - kept).as("trunc_loss"),
        round(sum(kept).cast("double") /
          (count(lit(1)) * contextLen), 4).as("efficiency"))
      .orderBy(col("bin"))
  }

  /** Token-mass inequality per source (Gini coefficient over per-doc
    * token counts): the curation dashboard's "is this source a few mega
    * documents or many small ones?" probe — a high-Gini source packs its
    * token budget into few documents, which skews sequence packing and
    * dedup cluster sizes downstream. Uses the sorted-rank identity
    * G = 2·Σ(i·xᵢ) / (n·Σx) − (n+1)/n, whose inputs are ALL integers
    * (rank, token counts), so both engines reach the same doubles
    * through the same two divisions — no accumulation-order drift.
    *
    * Scale shape: one tokenize pass collapses each doc to an integer
    * (text never shuffles); the rank window runs per source — the only
    * sort, over (source)-partitioned integer pairs; one aggregation
    * ends it.
    */
  def tokenGini(docs: DataFrame): DataFrame = {
    val d = docs.select(col("source"), col("doc_id"),
      wordCount(col("text")).as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_tok"), col("doc_id"))
    d.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("i") * col("n_tok")).as("__a"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(lit(2.0) * col("__a") /
            (col("n_docs").cast("double") * col("total_tokens")) -
          (col("n_docs") + lit(1.0)) / col("n_docs"), 6).as("gini"))
      .orderBy(col("source"))
  }

  /** Template-prefix detector: documents opening with the same first-k
    * tokens in bulk are generated boilerplate (mail-merge pages, scraped
    * listings, license headers) — the PREFIX-clustering complement to
    * [[dedupSpans]]' span-content cut, catching templates whose bodies
    * diverge after a shared opening. Emits prefixes shared by at least
    * `minDocs` (3) documents with their spread across sources.
    *
    * Scale shape: each doc reduces to its k-token prefix in the scan
    * projection (one slice, no explode — the full token array never
    * materializes past the expression), then one aggregation on the
    * prefix string; bounded output via the minDocs filter.
    */
  def templatePrefixes(docs: DataFrame): DataFrame = {
    val k = 5
    val minDocs = 3
    docs
      .select(array_join(slice(words(col("text")), 1, k), " ")
        .as("prefix"), col("doc_id"), col("source"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("prefix"))
  }

  /** Character-level Shannon entropy per language — the "does this text
    * look like language at all?" quality signal (mojibake, base64 blobs,
    * and markup soup sit far from natural-language char entropy).
    * [[entropy]] over the char distribution.
    *
    * Scale shape: the char explode is the only amplification (bounded by
    * corpus chars); counts combine map-side and the entropy aggregation
    * runs over (lang, char) rows — at most langs × alphabet.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val chars = docs
      .select(col("lang"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
    val counts = chars.groupBy(col("lang"), col("ch"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("lang"))
      .agg(sum(col("n")).as("n_chars"),
        count(lit(1)).as("distinct_chars"),
        entropy(col("n")).as("char_entropy"))
      .orderBy(col("lang"))
  }

  /** Pairwise vocabulary overlap between sources (Jaccard over distinct
    * token sets): the "which crawls duplicate each other's content
    * space?" matrix — two sources with high vocabulary Jaccard are
    * candidates for the expensive cross-corpus document-level dedup
    * (q120), so this cheap pass triages WHICH pairs to run it on.
    *
    * Scale shape: the corpus collapses to distinct (source, token) pairs
    * first (map-side combinable; bounded by sources x vocab). The
    * token-keyed self-join then fans out at most sources²/2 rows PER
    * TOKEN — bounded by the source count, never by document count — and
    * the Jaccard arithmetic is single-division integer math, identical
    * on both engines.
    */
  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val topK = 20
    val st = docs
      .select(col("source"),
        explode(array_distinct(words(col("text")))).as("token"))
      .distinct()
    val sizes = st.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"))
    val inter = st.alias("a")
      .join(st.alias("b"),
        col("a.token") === col("b.token") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("vocab").as("vocab_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("vocab").as("vocab_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("vocab_a") + col("vocab_b") - col("n_shared")), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
      .limit(topK)
  }

  /** Vocabulary drift between two corpus snapshots (here: the doc_id
    * parity halves, standing in for consecutive crawl snapshots): per
    * token, the smoothed IDF ln((N+1)/(df+1)) in each half and the top-k
    * movers by |Δidf|. The retrain-trigger monitor — a token whose IDF
    * swings between snapshots marks a topic burst or a scraper
    * regression; a stable vocabulary means embeddings/BM25 stats can be
    * carried forward.
    *
    * Scale shape: each half collapses to per-token document frequencies
    * (distinct (doc, token) then count — both map-side combinable), the
    * halves FULL OUTER join on token (absent => df 0, idf ln(N+1)), and
    * the top-k movers come out via TakeOrderedAndProject — no global
    * sort. Doc counts ride in as a 2-row broadcast cross join.
    */
  def idfDrift(docs: DataFrame): DataFrame = {
    val k = 20
    val toks = docs
      .select(col("doc_id"), (col("doc_id") % 2 === 0).as("half_a"),
        explode(array_distinct(words(col("text")))).as("token"))
    val df = toks.groupBy(col("token"))
      .agg(count(when(col("half_a"), lit(1))).as("df_a"),
        count(when(!col("half_a"), lit(1))).as("df_b"))
    val n = docs.agg(
      count(when(col("doc_id") % 2 === 0, lit(1))).as("n_a"),
      count(when(col("doc_id") % 2 =!= 0, lit(1))).as("n_b"))
    df.crossJoin(broadcast(n))
      .select(col("token"), col("df_a"), col("df_b"),
        round(log((col("n_a") + 1).cast("double") / (col("df_a") + 1)), 4)
          .as("idf_a"),
        round(log((col("n_b") + 1).cast("double") / (col("df_b") + 1)), 4)
          .as("idf_b"),
        log((col("n_a") + 1).cast("double") / (col("df_a") + 1))
          .minus(log((col("n_b") + 1).cast("double") / (col("df_b") + 1)))
          .as("__drift"))
      .withColumn("abs_drift", round(abs(col("__drift")), 4))
      .orderBy(col("abs_drift").desc, col("token"))
      .select(col("token"), col("df_a"), col("df_b"),
        col("idf_a"), col("idf_b"), col("abs_drift"))
      .limit(k)
  }

  /** Per-source language-mixture report: how many languages each crawl
    * source emits, the dominant language's share, and the Shannon entropy
    * (nats) of the mix. The curation dashboard's "is this source really
    * monolingual?" probe — a source whose entropy drifts up between
    * snapshots started leaking another language (template change, domain
    * takeover) and needs its langid gate re-run.
    *
    * Entropy is [[entropy]] over the (source, lang) counts. Two hash
    * aggregations total, both partial-combined; the wide text column
    * never shuffles.
    */
  def sourceLangMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("source"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        round(max(col("n")).cast("double") / sum(col("n")), 4)
          .as("dominant_share"),
        entropy(col("n")).as("lang_entropy"))
      .orderBy(col("source"))
  }

  /** Corpus readability profile per language: Flesch reading ease from
    * aggregate counts — words (the canonical space-split contract),
    * sentences (terminal-punctuation marks) and syllables (vowel-group
    * heuristic, the standard dictionary-free proxy). All three are
    * INTEGER totals summed per language before any division, so the
    * ratios are quotients of exact integers (identical doubles on both
    * engines) rather than averages of per-doc floats whose accumulation
    * order differs. One map-side-combined aggregate; counting happens in
    * the scan projection and only (lang, 4 longs) rows shuffle.
    */
  def readability(docs: DataFrame): DataFrame = {
    val counted = docs.select(col("lang"),
      wordCount(col("text")).as("w"),
      size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0))).cast("long")
        .as("s"),
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
        .cast("long").as("y"))
    counted.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("tot_words"),
        sum(col("s")).as("tot_sentences"),
        sum(col("y")).as("tot_syllables"))
      .select(col("lang"), col("n_docs"), col("tot_words"),
        col("tot_sentences"), col("tot_syllables"),
        round(col("tot_words").cast("double") /
          greatest(col("tot_sentences"), lit(1L)), 6).as("words_per_sentence"),
        round(col("tot_syllables").cast("double") /
          greatest(col("tot_words"), lit(1L)), 6).as("syllables_per_word"))
      .withColumn("flesch",
        round(lit(206.835) - lit(1.015) * col("words_per_sentence") -
          lit(84.6) * col("syllables_per_word"), 4))
      .orderBy(col("lang"))
  }

  /** Normalization-sensitive duplicate rate per source: how many docs
    * collapse under exact identity vs under aggressive normalization
    * (lowercase, strip non-alphanumerics, squeeze whitespace) — the gap
    * between `distinct_raw` and `distinct_norm` is exactly the dup mass
    * that an exact-hash dedup MISSES and a normalizing one catches, which
    * is the first number to look at before choosing a dedup tier. Two
    * count-distincts in one aggregate; the normalized form is computed in
    * the scan projection and never stored.
    */
  def normDupRate(docs: DataFrame): DataFrame = {
    docs.select(col("source"), col("text"), normText(col("text")).as("__norm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("distinct_raw"),
        countDistinct(col("__norm")).as("distinct_norm"))
      .select(col("source"), col("n_docs"), col("distinct_raw"),
        col("distinct_norm"),
        round((col("n_docs") - col("distinct_raw")).cast("double") /
          col("n_docs"), 6).as("exact_dup_rate"),
        (col("distinct_raw") - col("distinct_norm")).as("norm_collapsed"))
      .orderBy(col("source"))
  }

  /** Token-impact report for a dedup keep-list: per source, document and
    * whitespace-token counts before vs after near-dup removal, and the
    * token share the dedup saves. The keep-list arrives as a frame (any
    * of the keep-list builders — minhash, MERIT, semantic — plug in), so
    * the report is one broadcast-light left join plus a bounded per-source
    * rollup; token totals are exact integers and the savings rate is a
    * deterministic integer ratio.
    */
  def dedupTokenSavings(docs: DataFrame, keep: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      wordCount(col("text")).as("toks"))
    toks.transform(keepFlag(keep))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__k").isNotNull, 1L).otherwise(0L)).as("n_kept"),
        sum(col("toks")).as("tokens_total"),
        sum(when(col("__k").isNotNull, col("toks")).otherwise(0L))
          .as("tokens_kept"))
      .withColumn("token_savings",
        round(lit(1.0) - col("tokens_kept").cast("double") /
          col("tokens_total").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** Square-root-proportional token budget allocation across sources —
    * the standard mixture-rebalancing rule (upweight small sources
    * relative to proportional sampling without letting giants dominate).
    * Per source: exact token count, the sqrt weight share of a fixed
    * global budget, the implied sampling rate (capped at 1), and the
    * allocated token count. One scan, one ~|sources| rollup; the floor
    * runs on an integer-valued double so the cast is portable.
    */
  def sqrtBudgetAllocation(docs: DataFrame): DataFrame = {
    val budgetTokens = 500000L
    val perSource = docs.select(col("source"), wordCount(col("text")).as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).as("tokens"))
      .withColumn("w", sqrt(col("tokens").cast("double")))
    val total = perSource.agg(sum(col("w")).as("sum_w"))
    perSource.crossJoin(broadcast(total))
      .withColumn("raw_alloc",
        lit(budgetTokens.toDouble) * col("w") / col("sum_w"))
      .select(col("source"), col("tokens"),
        least(col("tokens"), floor(col("raw_alloc")).cast("long"))
          .as("alloc_tokens"),
        round(least(lit(1.0),
          col("raw_alloc") / col("tokens").cast("double")), 6)
          .as("alloc_rate"))
      .orderBy(col("source"))
  }

  /** N-gram novelty curve by source: for each document, the fraction of
    * its distinct 3-gram shingles that appear for the FIRST time in the
    * corpus (first = minimal doc_id owning the gram), averaged per
    * source — the "how much new text does each source contribute" audit.
    * The gram->first-owner map is one shuffle on the gram key (the only
    * wide stage); documents shorter than the shingle width contribute no
    * grams and are excluded, identically on both engines.
    */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val n = 3
    val grams = docs.select(col("doc_id"), col("source"),
        explode(graft.functions.TextAnalysis.shingles(col("text"), n))
          .as("g"))
    val firstSeen = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, "g")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_first"))
      .withColumn("novelty",
        col("n_first").cast("double") / col("n_grams").cast("double"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("novelty")), 6).as("mean_novelty"))
      .orderBy(col("source"))
  }

  /** Per-source quality-score calibration: each source's document count,
    * mean rounded quality, and the mean quality of its own top quartile
    * (intra-source rank by the bit-portable unrounded score, doc_id
    * tiebreak; the quartile cut is exact integer arithmetic) — "does a
    * good doc from source A mean the same as from source B". Scores are
    * rounded only at the aggregate edge.
    */
  def scoreCalibration(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("source"),
      graft.functions.TextAnalysis.qualityScore(col("text")).as("q"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
    val n = Window.partitionBy(col("source"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("ns", count(lit(1)).over(n))
      .withColumn("top_q", (col("rk") * 4 <= col("ns")).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("q")), 6).as("mean_quality"),
        round(sum(when(col("top_q") === 1, col("q")).otherwise(0.0)) /
          sum(col("top_q")).cast("double"), 6).as("top_quartile_mean"))
      .orderBy(col("source"))
  }

  /** Dedup funnel report: the whole duplicate-removal cascade in one
    * per-source row — raw docs, exact-distinct texts, normalized-
    * distinct texts, and near-dup keep-list survivors. The one-table
    * summary a curation run publishes to show WHERE volume went; each
    * stage is the already-gated machinery (exact/norm distinct counts,
    * the shared minhash keep-list), composed, not recomputed.
    */
  def dedupFunnel(docs: DataFrame, keep: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("source"), col("text"),
        normText(col("text")).as("__norm"))
      .transform(keepFlag(keep))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_exact"),
        countDistinct(col("__norm")).as("n_norm"),
        sum(when(col("__k").isNotNull, 1L).otherwise(0L))
          .as("n_neardup_kept"))
      .orderBy(col("source"))
  }

  /** Duplicate rate by length band: are short documents more duplicated
    * than long ones? Each doc is flagged duplicated when its exact text
    * occurs more than once in the corpus (corpus-wide, not per band);
    * bands are 500-char integer divisions. One shuffle on the text key
    * for the occurrence counts, one bounded band rollup.
    */
  def dupRateByLength(docs: DataFrame): DataFrame = {
    val occ = docs.groupBy(col("text")).agg(count(lit(1)).as("occ"))
    docs.join(occ, "text")
      .withColumn("band", expr("n_chars div 500"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_duplicated"))
      .withColumn("dup_rate",
        round(col("n_duplicated").cast("double") /
          col("n_docs").cast("double"), 6))
      .orderBy(col("band"))
  }

  /** Heaps-law growth curve over 3-GRAM shingles: distinct trigrams
    * first seen in each tenth of the corpus (by doc id order) and the
    * cumulative total — the "is new data still adding new language"
    * saturation read. Trigrams, not unigrams, deliberately: a bounded
    * word vocabulary saturates in the first slice (one-row curve, no
    * signal) while the combination space keeps growing — the same
    * reason dedup shingles at n=3. One gram-keyed rollup to first
    * owners (the only wide stage), then a ten-row curve; decile
    * boundaries are exact integer division over the id space, no
    * global rank.
    */
  def heapsCurve(docs: DataFrame): DataFrame = {
    val bounds = docs.agg((max(col("doc_id")) + 1).as("nid"))
    val firstSeen = docs
      .select(col("doc_id"),
        explode(graft.functions.TextAnalysis.shingles(col("text"), 3))
          .as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstSeen.crossJoin(broadcast(bounds))
      .withColumn("decile", expr("(first_doc * 10) div nid").cast("int"))
      .groupBy(col("decile")).agg(count(lit(1)).as("vocab_added"))
      .withColumn("cum_vocab", sum(col("vocab_added")).over(w))
      .orderBy(col("decile"))
  }

  /** Held-out bigram LM evaluation — the composite every training
    * pipeline runs before trusting a data mix: train a bigram model on
    * the TRAIN split only, score the VAL split with Laplace smoothing,
    * and report per-language held-out bits-per-bigram plus the OOV
    * (unseen-bigram) mass. Composes the deterministic [[splitAssign]]
    * hash with the [[bigramCounts]] machinery, so split membership and
    * the LM are bit-identical across engines; only the log-sum is
    * floating point. One gram-keyed shuffle for the LM, one for the
    * scoring join — text itself never reshuffles.
    */
  def heldoutPerplexity(docs: DataFrame, datasetKey: String): DataFrame = {
    // Bigrams never cross document boundaries, so the per-doc counts of
    // each split are exactly the full-corpus counts frame filtered by
    // split membership — derive both sides from the ONE shared bigram
    // counts frame instead of generating+exploding the text once per
    // split (2 corpus scans → 0 when another token query already built
    // the memo this session; one full pass beats two near-full ones even
    // on a miss). The split flag joins on via the doc-grain
    // (doc_id, split, lang) projection, never the text.
    val s = splitAssign(docs).select(col("doc_id"), col("split"), col("lang"))
    val bySplit = bigramCountsShared(docs, datasetKey)
      .join(s, "doc_id")
    val trainLm = bySplit.filter(col("split") === "train")
      .groupBy(col("bg")).agg(sum(col("cnt")).as("bf"))
    val stats = trainLm.agg(sum(col("bf")).as("tot"),
      count(lit(1)).as("vsz"))
    val valBg = bySplit.filter(col("split") === "val")
      .select(col("doc_id"), col("bg"), col("cnt"))
    valBg.join(trainLm, Seq("bg"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("bits", -col("cnt").cast("double") *
        log2((coalesce(col("bf"), lit(0L)) + 1).cast("double") /
          (col("tot") + col("vsz")).cast("double")))
      .join(s.filter(col("split") === "val")
        .select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("cnt")).as("n_bigrams"),
        round(sum(col("bits")) / sum(col("cnt")).cast("double"), 6)
          .as("avg_bits"),
        round(sum(when(col("bf").isNull, col("cnt")).otherwise(0L))
          .cast("double") / sum(col("cnt")).cast("double"), 6)
          .as("oov_rate"))
      .orderBy(col("lang"))
  }

  /** One-way variance decomposition of document length by language:
    * between-group vs within-group sum of squares and the eta-squared
    * effect size ("how much of length variance does language explain").
    * All power sums accumulate as exact BIGINTs (n_chars is integral),
    * so partial-agg order cannot perturb them; the decomposition is
    * closed-form double arithmetic over those exact sums. One scan, one
    * bounded per-language rollup, a single-row result.
    */
  def docLengthAnova(docs: DataFrame): DataFrame = {
    val perLang = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("nl"), sum(col("n_chars")).as("sl"),
        sum(col("n_chars") * col("n_chars")).as("ssl"))
    perLang.agg(sum(col("nl")).as("n"), sum(col("sl")).as("s"),
        sum(col("ssl")).as("ss"), count(lit(1)).as("n_langs"),
        sum(col("sl").cast("double") * col("sl").cast("double") /
          col("nl").cast("double")).as("grp"))
      .select(col("n").as("n_docs"), col("n_langs"),
        // sums of squares sit at ~1e12 where 4dp rounding is below the
        // double ulp (engine-divergent under scaled-double rounding) —
        // round to whole units and emit integers instead
        round(col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("n").cast("double"), 0).cast("long").as("ss_total"),
        round(col("grp") -
          col("s").cast("double") * col("s").cast("double") /
            col("n").cast("double"), 0).cast("long").as("ss_between"),
        round((col("grp") -
          col("s").cast("double") * col("s").cast("double") /
            col("n").cast("double")) /
          (col("ss").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("n").cast("double")), 6).as("eta2"))
  }

  /** Source language purity: each source's majority language and the
    * share of its documents in it — the "is this feed monolingual"
    * triage before routing sources to per-language pipelines. Majority
    * pick is a deterministic (count desc, lang asc) argmax — a
    * row_number over the bounded (source × lang) rollup, never the
    * documents.
    */
  def sourcePurity(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("source")).agg(sum(col("n")).as("n_docs"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("lang"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(totals, "source")
      .select(col("source"), col("n_docs"),
        col("lang").as("majority_lang"),
        round(col("n").cast("double") / col("n_docs").cast("double"), 6)
          .as("purity"))
      .orderBy(col("source"))
  }

  /** Sparse TF-IDF cosine near-duplicate pairs — the WEIGHTED-lexical
    * complement of the set-based exact-Jaccard postings join (q136):
    * two docs sharing rare vocabulary score high even when their
    * shingle sets diverge. Weights are `cnt·ln(N/df)`; the dot products
    * come from the same inverted-postings discipline as q136
    * (count-then-semi-join `maxDf` cap — a hot term is never a giant
    * postings row, and high-df terms carry near-zero idf anyway, so the
    * cap is also the idf prune; the oracle replicates it). Norms use
    * ONLY kept terms, so the cosine is exact for the capped vocabulary.
    * The threshold compares the cosine ROUNDED to 6dp (the
    * cutoff-portability rule — dot and norms are order-dependent float
    * sums, so a raw-double compare could split a boundary pair across
    * engines); output rounds the same 6dp value to 4dp. Docs under 3
    * tokens are excluded outright: the whole-text fallback shingle
    * [[graft.functions.TextAnalysis.shingles]] emits for them has no
    * oracle-side counterpart (`generate_series(1, len-2)` is empty), so
    * the term space must be defined identically on both engines.
    */
  def tfidfCosinePairs(docs: DataFrame): DataFrame = {
    val threshold = 0.8
    val maxDf = 256
    // term space = distinct 3-word shingles (the q136 space), NOT
    // unigrams: this corpus family has a tiny unigram vocabulary (~31
    // terms at sf0.1), under which every unigram is a hot posting and
    // every pair trivially similar; shingles restore the diversity an
    // idf weighting needs. Each (doc, shingle) appears once, so the
    // weight reduces to the idf.
    val tc = docs
      .filter(size(graft.functions.TextAnalysis.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.TextAnalysis.shingles(col("text"), 3))
          .as("tok"))
      .withColumn("cnt", lit(1L))
      .transform(Scratch.staged)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // df frame staged once (vocab-sized): feeds the idf keep-list AND
    // the pair-width forecast without re-running the postings groupBy
    val dfFrame = Scratch.staged(
      tc.groupBy(col("tok")).agg(count(lit(1)).as("df")))
    val kept = dfFrame.filter(col("df") <= maxDf)
    // Keep-list, postings self-join, and both norm lookups all join
    // corpus-growing inputs — pinned to the shuffle regime
    // (Par.shuffleJoin; the 1-row nDocs crossJoin broadcast is fine).
    val weighted = tc.join(Par.shuffleJoin(kept), "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"),
        (col("cnt").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("w"))
    val norms = weighted.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    // self-join + dot aggregate at the forecast-proportional width: at
    // cores-wide partitioning the map-side partial agg over the pair
    // expansion spilled hundreds of sort files and the merge OOM'd an
    // 8 GiB executor (local-cluster soak, 10× fixture — the round-15
    // catch); see Par.pairExpansionWidth.
    val width = Par.pairExpansionWidth(dfFrame, "df", maxDf)
    weighted.select(col("tok"), col("doc_id").as("doc_a"), col("w").as("wa"))
      .repartition(width, col("tok"))
      .join(Par.shuffleJoin(weighted.select(col("tok"),
        col("doc_id").as("doc_b"), col("w").as("wb"))
        .repartition(width, col("tok"))), Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .repartition(width, col("doc_a"), col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .join(Par.shuffleJoin(
        norms.select(col("doc_id").as("doc_a"), col("nrm").as("na"))),
        "doc_a")
      .join(Par.shuffleJoin(
        norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb"))),
        "doc_b")
      .withColumn("__c", round(col("dot") / (col("na") * col("nb")), 6))
      .filter(col("__c") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("__c"), 4).as("cosine"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Compressibility proxy per source: distinct/total character-trigram
    * ratio per document (the cheap stand-in for a gzip ratio — low means
    * repetitive/templated text), rolled up to mean ratio and the share
    * of documents under 0.3. The trigram list is built by native
    * higher-order functions (`transform(sequence(...))` — codegen'd, no
    * UDF, no explode: the per-doc ratio never leaves the row). Docs
    * under 3 chars are excluded on BOTH engines (`sequence(1, n)` needs
    * n ≥ 1). Ratios are rounded to 6dp before the threshold test (the
    * cutoff-portability rule).
    */
  def compressibility(docs: DataFrame): DataFrame = {
    val tri = expr(
      "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
    val perDoc = docs.filter(length(col("text")) >= 3)
      .select(col("source"),
        round(size(array_distinct(tri)).cast("double") /
          size(tri).cast("double"), 6).as("ratio"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("ratio")), 6).as("mean_tri_ratio"),
        round(sum(when(col("ratio") < 0.3, 1.0).otherwise(0.0)) /
          count(lit(1)), 6).as("templated_share"))
      .orderBy(col("source"))
  }

  /** Stylometric profile divergence per source: the corpus picks its own
    * "function words" (global top-`k` (10) tokens, count-desc/word-asc — a
    * deterministic, data-derived list, since a synthetic corpus has no
    * English stopwords), then each source's frequency profile over that
    * list is compared to the global profile by L1 distance — the
    * authorship/contamination triage (a source whose common-word
    * rhythm diverges is machine-generated, templated, or mislabeled;
    * Burrows' Delta simplified to rates). The profile grid is dense
    * (source × k, absent words at rate 0 — absence IS signal). Token
    * counts shuffle at (source, word) grain; the top-k list and the
    * per-source totals broadcast back, so the text itself never moves
    * twice.
    */
  def stylometryProfile(docs: DataFrame): DataFrame = {
    val k = 10
    val tokens = docs.select(col("source"),
      explode(words(lower(col("text")))).as("w"))
    val bySourceWord = tokens.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val bySource = bySourceWord.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"))
    val byWord = bySourceWord.groupBy(col("w"))
      .agg(sum(col("cnt")).as("gcnt"))
    val topK = byWord.orderBy(col("gcnt").desc, col("w")).limit(k)
    val nAll = bySource.agg(sum(col("n_tokens")).as("n_all"))
    // dense source × top-k grid: zero-filled counts
    bySource.crossJoin(broadcast(topK))
      .join(bySourceWord, Seq("source", "w"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(nAll))
      .withColumn("gap",
        abs(col("cnt").cast("double") / col("n_tokens").cast("double") -
          col("gcnt").cast("double") / col("n_all").cast("double")))
      .groupBy(col("source"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        round(sum(col("gap")), 6).as("profile_l1"))
      .orderBy(col("source"))
  }

  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — the mixture-design distance ("how different is
    * source A's language from source B's?") that q49/q131's sampling
    * weights want as an input, and the drift metric that flags a
    * source whose crawl changed character. JSD is symmetric and
    * bounded [0, 1] in log₂, unlike raw KL which is infinite on any
    * term the other source lacks; the disjoint-term mass enters in
    * closed form (a term with q=0 contributes p/2), so only COMMON
    * terms ever join: `JSD = ½·Sa/ta + ½·Sb/tb + ½(1−Ma/ta) +
    * ½(1−Mb/tb)` with `Sa = Σ ca·log₂(2·ca·tb / (ca·tb + cb·ta))`
    * over common terms and `Ma = Σ ca` the common mass.
    *
    * Shape: one (source, token) rollup, then a token-keyed self-join —
    * per-term fan-out is bounded by #sources² (sources are a handful),
    * never by corpus size, and the log arguments are built from the
    * same counts in DOUBLE on both engines (the products `ca·tb` are
    * computed as doubles, not 64-bit integers, so a source whose token
    * total passes ~2e9 cannot silently wrap in Spark while erroring in
    * DuckDB — both see identical operands at any corpus scale).
    */
  def sourceJsd(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(words(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
    val totals = tf.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
    val p = tf.join(broadcast(totals), "source")
    val a = p.select(col("source").as("src_a"), col("tok"),
      col("cnt").as("ca"), col("tot").as("ta"))
    val b = p.select(col("source").as("src_b"), col("tok"),
      col("cnt").as("cb"), col("tot").as("tb"))
    val common = a.join(b, Seq("tok")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common_terms"),
        // multiply in DOUBLE, not BIGINT: ca·tb on 64-bit integers wraps
        // silently in Spark (non-ANSI) but errors in DuckDB once a
        // source's token total passes ~2e9 — the double product loses
        // nothing that survives the 4dp round
        sum(expr("ca * log2((2.0 * ca * tb) / " +
          "(CAST(ca AS DOUBLE) * tb + CAST(cb AS DOUBLE) * ta))")).as("sa"),
        sum(expr("cb * log2((2.0 * cb * ta) / " +
          "(CAST(ca AS DOUBLE) * tb + CAST(cb AS DOUBLE) * ta))")).as("sb"),
        sum(col("ca")).as("ma"), sum(col("cb")).as("mb"),
        max(col("ta")).as("ta"), max(col("tb")).as("tb"))
      .select(col("src_a"), col("src_b"), col("n_common_terms"),
        round(
          col("sa") / col("ta") / 2 + col("sb") / col("tb") / 2 +
            (lit(1.0) - col("ma").cast("double") / col("ta")) / 2 +
            (lit(1.0) - col("mb").cast("double") / col("tb")) / 2,
          4).as("jsd"))
    // dense pair grid (sources are bounded): a pair sharing NO terms
    // never joins above but is maximally divergent — JSD exactly 1
    totals.select(col("source").as("src_a"))
      .crossJoin(broadcast(totals.select(col("source").as("src_b"))))
      .filter(col("src_a") < col("src_b"))
      .join(common, Seq("src_a", "src_b"), "left_outer")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_common_terms"), lit(0L)).as("n_common_terms"),
        coalesce(col("jsd"), lit(1.0)).as("jsd"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Per-source topic coherence: the mean pairwise PMI of each source's
    * top-`m` (5) tokens, computed from document co-occurrence — the
    * topic-model evaluation statistic ("do this source's characteristic
    * terms actually appear TOGETHER?") that separates a coherent domain
    * source from a mixed-crawl one. `PMI(a,b) = log₂(df_ab·N /
    * (df_a·df_b))`; positive means the source's top terms co-occur more
    * than independence predicts.
    *
    * Scale: the top-token union is bounded (`sources × m`, broadcast),
    * and the doc-incidence frame is PRUNED to it BEFORE the doc-keyed
    * co-occurrence self-join — per-doc fan-out is ≤ C(|selected|, 2)
    * regardless of corpus size, and df/cooc rollups combine map-side.
    * Log arguments are exact-integer ratios (the q94 discipline); a
    * zero-cooccurrence pair is excluded from the mean (log 0 is an
    * engine-divergent boundary) and surfaced in `n_zero_pairs` instead.
    */
  def sourceCoherence(docs: DataFrame): DataFrame = {
    val m = 5
    val toks = docs.select(col("doc_id"), col("source"),
      explode(words(col("text"))).as("tok"))
    val top = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("cnt").desc, col("tok"))))
      .filter(col("__r") <= m)
      .select(col("source"), col("tok"))
    val inc = toks.select(col("doc_id"), col("tok")).distinct()
      .join(broadcast(top.select(col("tok")).distinct()), "tok")
    val dfTok = inc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val cooc = inc.select(col("doc_id"), col("tok").as("ta"))
      .join(inc.select(col("doc_id"), col("tok").as("tb")), "doc_id")
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("df_ab"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    top.as("a")
      .join(top.as("b"), col("a.source") === col("b.source") &&
        col("a.tok") < col("b.tok"))
      .select(col("a.source").as("source"), col("a.tok").as("ta"),
        col("b.tok").as("tb"))
      .join(broadcast(dfTok.select(col("tok").as("ta"),
        col("df").as("df_a"))), "ta")
      .join(broadcast(dfTok.select(col("tok").as("tb"),
        col("df").as("df_b"))), "tb")
      .join(broadcast(cooc), Seq("ta", "tb"), "left_outer")
      .na.fill(0L, Seq("df_ab"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__pmi", when(col("df_ab") > 0,
        log2((col("df_ab") * col("n_docs")).cast("double") /
          (col("df_a") * col("df_b")).cast("double"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("df_ab") === 0, 1).otherwise(0)).as("n_zero_pairs"),
        round(avg(col("__pmi")), 4).as("mean_pmi"))
      .orderBy(col("source"))
  }

  /** Within-document repetition profile per source: the mean
    * max-unigram-frequency ratio (`max tf / len` — a doc stuck on one
    * token) and the mean top-bigram repeat ratio (`max bigram count /
    * (len−1)` — boilerplate loops and degenerate generations repeat
    * BIGRAMS long before their unigram mix looks odd). The standard
    * repetition quality gate a pretraining filter applies per document;
    * aggregated per source it localizes which feed ships the loops.
    *
    * Shape: one explode→(doc, gram) rollup per gram order, max/sum per
    * doc, mean per source — every stage combiner-friendly, nothing
    * pairwise. Per-doc ratios are exact integer ratios (identical
    * doubles in any engine); only the per-source mean is a float sum,
    * rounded 6dp. Docs under 2 tokens are excluded deterministically
    * (their bigram set is empty).
    */
  def repetitionProfile(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
        words(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val uni = base.select(col("doc_id"), col("source"),
        explode(col("t")).as("g"))
      .groupBy(col("doc_id"), col("source"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(max(col("c")).as("max_tf"), sum(col("c")).as("len"))
    val bi = base.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_bg"))
    uni.join(bi, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("max_tf").cast("double") / col("len")), 6)
          .as("mean_max_tf_ratio"),
        round(avg(col("max_bg").cast("double") / (col("len") - 1)), 6)
          .as("mean_top_bigram_ratio"))
      .orderBy(col("source"))
  }
}
