package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with a typed metadata struct; decode / feature-extract
  * run as native per-row expressions evaluated in the scan stage.
  *
  * The decode step itself is a DETERMINISTIC FAKE (this environment has no
  * image/audio codecs): payload bytes are synthesized from the document
  * text, and "features" are a byte-value histogram. Everything around it —
  * schema, metadata struct, expression signature, partitioning — is real:
  * swapping the fake for a JNI/codec call changes one eval body (see
  * [[graft.functions.AssetResizeSample]]; a codec needing per-executor
  * init amortizes it in a lazily-initialized transient handle there).
  *
  * Scale notes: payloads never shuffle (all ops are per-row, fused into
  * the scan projection); only the compact feature columns move.
  */
object Multimodal {

  /** Attach a binary payload + metadata struct to the documents table.
    * Metadata (format/width/height) is deterministically derived — the
    * stand-in for real per-asset metadata.
    */
  // The synthetic dimension formulas, shared so metadata-only consumers
  // (aspectBuckets) can project them WITHOUT building the asset struct:
  // a struct alias referenced more than once blocks CollapseProject, and
  // the un-collapsed struct keeps its text-derived n_bytes field alive —
  // dragging the payload stand-in into scans that never need it
  // (plan-asserted by PlanShapeSpec's q317 test).
  private def widthExpr = (lit(16) + col("doc_id") % 64).cast("int")
  private def heightExpr = (lit(16) + col("doc_id") % 48).cast("int")

  def withAssets(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("source"),
      col("text").cast("binary").as("payload"),
      struct(
        element_at(array(lit("png"), lit("jpeg"), lit("wav")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        widthExpr.as("width"),
        heightExpr.as("height"),
        length(col("text").cast("binary")).as("n_bytes")).as("meta"))

  /** Per-source asset rollup over the metadata struct (oracle-checkable —
    * exercises the schema path end-to-end without decoding).
    */
  def assetStats(docs: DataFrame): DataFrame =
    withAssets(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("meta.n_bytes")).cast("long").as("total_bytes"),
        round(avg(col("meta.width")), 4).as("avg_width"),
        max(col("meta.format")).as("max_format"))
      .orderBy(col("source"))

  /** "Resize" + "frame-sample" stand-ins over the binary payload (the
    * shapes a codec-backed pipeline needs):
    *   - resize: keep every stride-th byte down to <= `target` (64) bytes;
    *   - frame-sample: treat the payload as fixed-size frames and keep
    *     every `sampleEvery`-th (4th) frame of `frameBytes` (32) bytes.
    * Runs as a native expression ([[graft.functions.AssetResizeSample]])
    * inside the scan stage — no RDD drop-down, no encoder round-trip;
    * a real codec swaps into the expression's marked eval body without
    * touching this plan.
    */
  def resizeAndSample(docs: DataFrame): DataFrame = {
    val target = 64
    val frameBytes = 32
    val sampleEvery = 4
    withAssets(docs)
      .select(col("doc_id"), col("meta.format").as("format"),
        graft.functions.MultimodalExpressions
          .assetResizeSample(col("payload"), target, frameBytes, sampleEvery)
          .as("t"))
      .select(col("doc_id"), col("format"), col("t.n_bytes"),
        col("t.resized_bytes"), col("t.n_frames"), col("t.sampled_frames"),
        col("t.checksum"))
      .orderBy(col("doc_id"))
  }

  /** "Decode" each asset and extract a 16-bin byte-value histogram
    * feature; the L2 norm and argmax bin are emitted as compact features.
    * Runs as a native expression ([[graft.functions.AssetHistogramFeature]])
    * in the scan stage; deterministic — depends only on payload bytes.
    */
  def decodeFeatures(docs: DataFrame): DataFrame =
    withAssets(docs)
      .select(col("doc_id"), col("meta.format").as("format"),
        graft.functions.MultimodalExpressions
          .assetHistogramFeature(col("payload")).as("f"))
      .select(col("doc_id"), col("format"), col("f.n_bytes"),
        col("f.feat_norm"), col("f.top_bin"))
      .orderBy(col("doc_id"))

  /** Format mix per source: the modality composition report (how much of
    * each source is image vs audio, by count and bytes). Pure metadata
    * rollup — payloads never leave the scan.
    */
  def formatMix(docs: DataFrame): DataFrame = {
    val cells = withAssets(docs)
      .groupBy(col("source"), col("meta.format").as("format"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("meta.n_bytes")).cast("long").as("total_bytes"))
    val tot = cells.groupBy(col("source"))
      .agg(sum(col("n_assets")).as("src_n"))
    cells.join(broadcast(tot), "source")
      .select(col("source"), col("format"), col("n_assets"),
        col("total_bytes"),
        round(col("n_assets").cast("double") / col("src_n").cast("double"),
          6).as("share"))
      .orderBy(col("source"), col("format"))
  }

  /** Byte-balanced shard plan: assets ranked by size descending and
    * dealt round-robin into `shards` (8) shards — the deterministic
    * first-fit-ish layout a modality-heavy dataset needs so one shard
    * doesn't carry all the video. Reports per-shard count, bytes, and
    * the balance ratio against the mean. Rank and assignment are exact
    * integer arithmetic (rank ties break on doc_id). The global rank is
    * [[graft.operators.Ranks.globalRowNumber]] — asset grain grows with
    * the corpus, so a single-partition `Window.orderBy` sort would be
    * the first operator to die at 100 TB; the distributed rank exchanges
    * the frame exactly once (range repartition) and stays map-side after.
    */
  def shardPlan(docs: DataFrame): DataFrame = {
    val shards = 8
    val sized = withAssets(docs)
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"))
    val perShard = graft.operators.Ranks
      .globalRowNumber(sized, Seq(col("n_bytes").desc, col("doc_id")), "__rk")
      .withColumn("shard", pmod(col("__rk") - 1, lit(shards)).cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).cast("long").as("shard_bytes"))
    val tot = perShard.agg(sum(col("shard_bytes")).as("tb"))
    perShard.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_assets"), col("shard_bytes"),
        round(col("shard_bytes").cast("double") * lit(shards.toDouble) /
          col("tb").cast("double"), 6).as("balance_ratio"))
      .orderBy(col("shard"))
  }

  /** Thin-asset purge estimate: assets whose payload is smaller than
    * `minBytes` (100) — the "tiny payload, full bookkeeping cost" cut — with
    * the bytes a purge reclaims per source. Exact integer predicate and
    * byte sums.
    */
  def purgeEstimate(docs: DataFrame): DataFrame = {
    val minBytes = 100L
    withAssets(docs)
      .withColumn("thin", (col("meta.n_bytes") < minBytes).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("thin")).cast("long").as("n_purged"),
        sum(when(col("thin") === 1, col("meta.n_bytes")).otherwise(0L))
          .cast("long").as("bytes_reclaimed"),
        sum(col("meta.n_bytes")).cast("long").as("total_bytes"))
      .withColumn("bytes_share",
        round(col("bytes_reclaimed").cast("double") /
          col("total_bytes").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** Two-stage exact asset dedup by content digest — the "same asset
    * re-uploaded under ten names" cut that runs BEFORE any perceptual
    * hashing. Stage 1 groups by a digest of the payload's first
    * `prefixBytes` (80) bytes (the thumbnail/header region — cheap, catches
    * every exact-duplicate candidate since equal payloads have equal
    * prefixes); stage 2 counts DISTINCT full-payload digests inside each
    * candidate group, so `n_copies == n_distinct_full` exposes prefix
    * collisions that are not whole-asset duplicates. Emits one row per
    * candidate group with its keeper (min doc_id).
    *
    * Scale shape: both digests are computed IN THE SCAN (sha2 is a
    * built-in over the binary column); only 32-byte digests + ids
    * shuffle, never the payload — at 100 TB of assets the exchange
    * carries gigabytes, not the corpus. The same plan dedups any opaque
    * modality.
    */
  def assetDedup(docs: DataFrame): DataFrame = {
    val prefixBytes = 80
    withAssets(docs)
      .select(col("doc_id"),
        sha2(expr(s"substring(payload, 1, $prefixBytes)"), 256).as("digest"),
        sha2(col("payload"), 256).as("full_digest"))
      .groupBy(col("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"),
        countDistinct(col("full_digest")).as("n_distinct_full"))
      .filter(col("n_copies") > 1)
      .orderBy(col("keeper"))
  }

  /** Aspect-ratio bucketing for multimodal training batches: group
    * assets by quantized width:height ratio (`(10·w) div h` — integer
    * math, the bucket key NaViT/SDXL-style trainers use so a batch
    * pads to ITS bucket's max dims instead of the corpus max), and
    * report per bucket the batchable padding waste — `1 −
    * Σ(w·h) / (n · max_w · max_h)` — the pixel-budget fraction a
    * bucket-batched loader burns on padding. The image twin of q62's
    * sequence-packing waste report.
    *
    * All inputs are exact integer asset dimensions (the shared
    * [[withAssets]] formulas, projected straight off the scan — the
    * payload is never read, let alone shuffled); the rollup is one
    * combiner-friendly pass at bucket grain (≤ a few dozen buckets at
    * any corpus scale), and the waste ratio is a single division of
    * exact < 2⁵³ integers — bit-identical in any engine.
    */
  def aspectBuckets(docs: DataFrame): DataFrame =
    docs
      .select(widthExpr.cast("long").as("w"),
        heightExpr.cast("long").as("h"))
      .groupBy(expr("(10 * w) div h").as("bucket"))
      .agg(count(lit(1)).as("n_assets"),
        max(col("w")).as("max_w"), max(col("h")).as("max_h"),
        sum(col("w") * col("h")).as("px"))
      .select(col("bucket"), col("n_assets"), col("max_w"), col("max_h"),
        round(lit(1.0) - col("px").cast("double") /
          (col("n_assets") * col("max_w") * col("max_h")).cast("double"),
          6).as("pad_waste"))
      .orderBy(col("bucket"))
}
