package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, Exchange,
  REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
import org.apache.spark.sql.types.{ArrayType, ObjectType}

/** Partitioning policy: join-strategy pins, pair-expansion widths, and
  * the one width rule for heavy per-row stages.
  *
  * Width policy ([[WidenHeavyStages]], injected by
  * [[graft.GraftExtensions]]): a stage — the nodes between an input leaf
  * and the next exchange — whose input has fewer partitions than the
  * session's `defaultParallelism` and that does heavy per-row work gets a
  * round-robin exchange to `defaultParallelism` under its lowest heavy
  * node. A small table read from one parquet file arrives as ONE
  * partition, and a kernel that does orders of magnitude more work per
  * row than the scan (shingling, 64 hash passes, candidate expansion,
  * tables × bits dot products) then runs on one task while every other
  * core idles (q309 at the 100× fixture: 132 s → 11.3 s from width
  * alone). The rule only ever widens: at cluster scale a 100 TB input
  * already arrives in thousands of splits and is left untouched, and a
  * stage that starts at an exchange keeps the width AQE gave it.
  */
private[graft] object Par {

  /** Pin a corpus-grain join input to the SHUFFLE regime (a shuffle-hash
    * hint — AQE's skew split still applies; the hint only forbids the
    * broadcast strategy for the join directly above).
    *
    * Why forbid rather than trust AQE: a join whose BOTH sides grow with
    * the corpus (candidate pairs × per-doc signatures, postings ×
    * set-size lookups) must never broadcast — at scale the build side
    * exceeds the driver's result cap long before the 8 GB broadcast
    * limit, and AQE's size signal is the COMPRESSED map output, which
    * under-prices highly-compressible id/hash frames by 20×+. Observed
    * live: q27's candidate frame at the 100× fixture benched fine at 10×
    * (AQE broadcast it from a ~60 MB shuffle estimate) then died at 100×
    * collecting 1.4 GiB of task results into BroadcastExchange. These
    * joins are documented pair-grain shuffles; the hint makes the
    * documented plan the actual plan at every scale.
    *
    * shuffle_hash, not merge: the hinted side builds a per-PARTITION
    * hash map (fine-grained keys spread it thin — at 10k partitions a
    * 5B-doc signature side is ~megabytes per task), no sort of either
    * side, and AQE's skew split still applies. A same-box family A/B
    * priced merge at ~+38% over the old (broadcast) plans at sf0.1;
    * shuffle_hash keeps the no-broadcast guarantee without the sorts.
    */
  def shuffleJoin(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  /** [[shuffleJoin]]'s sibling for corpus-grain join sides whose ROWS
    * are FAT — per-doc shingle/embedding arrays, span strings, cleaned
    * text. Same no-broadcast guarantee, but via sort-merge: a
    * ShuffledHashJoin build map CANNOT spill, so a fat build side at a
    * static partition width eventually exceeds the task's
    * execution-memory share and kills the query outright — observed
    * live at the 100× fixture under 8 GiB executors (round-15
    * local-cluster soak): q90's pair-frame build died in
    * `LongToUnsafeRowMap.grow` ("Can't acquire 33554432 bytes memory to
    * build hash relation") building the shingle-array side of the
    * verification join, with no retry able to succeed because the
    * pressure is structural, not transient. Sort-merge spills both
    * sides gracefully at any scale; the sort cost is noise next to the
    * pipelines these joins sit in (banding/aggregation dominate). Thin
    * id/count/fingerprint sides (≤ ~16 B rows) stay on [[shuffleJoin]]
    * — their builds are bounded small and the per-partition hash map
    * beats the sort.
    */
  def mergeJoin(df: DataFrame): DataFrame = df.hint("merge")

  /** Partition width for a PAIR-EXPANDING postings self-join, sized to
    * the FORECAST output — Σ df·(df−1)/2 over kept keys — instead of to
    * the input or the core count.
    *
    * Why the input-proportional default fails: the self-join's output
    * (candidate pairs) grows with the square of per-key df while its
    * inputs stay postings-sized, so at `spark.sql.shuffle.partitions` =
    * cores each join task emits output/cores pair rows regardless of
    * scale. The map-side partial aggregate over those rows then holds a
    * hash map far beyond its execution-memory share, spills hundreds of
    * sort files, and `finishAggregate`'s merge allocates a reader
    * buffer PER spill file — observed live as a raw
    * `java.lang.OutOfMemoryError` in `UnsafeSorterSpillReader.<init>`
    * that killed an 8 GiB executor (local-cluster[4,8,8g] soak, q292 at
    * the 10× saturated fixture, round 15) and took its localCheckpoint
    * blocks with it. A 32 GiB single-JVM heap hides this completely —
    * it is an executor-heap failure mode, the cluster-realistic one.
    *
    * The forecast costs one tiny job over the caller's per-key df
    * counts frame — which every postings pipeline already computes for
    * its maxDf keep-list, so callers STAGE that frame once and this
    * reads the checkpointed blocks (a vocab-sized 1-row aggregate; the
    * expensive postings groupBy shuffle is never paid twice). It makes
    * the width track the workload: ~cores at fixture scale, thousands
    * of partitions at the 100 TB point, exactly what a cluster
    * deployment would hand-tune `spark.sql.shuffle.partitions` to. Both self-join
    * inputs AND the pair-grain aggregation should repartition to this
    * width with an explicit count (an explicit count is NOT
    * AQE-coalescible — AQE cannot see the expansion in the map-stage
    * stats and would coalesce the small byte-size back to one task, the
    * q82 lesson). Two constants set the width: [[PairsPerPartition]]
    * (1e6 pair rows per task — a ~100 MB aggregate map, inside a busy
    * executor's per-task share even with storage-pinned memo blocks
    * squeezing the execution pool) and [[MaxPairWidth]] (4096, the
    * local-mode task-overhead cap).
    *
    * The forecast is sized to the DISTINCT pair mass Σ C(df,2), while
    * the self-join physically emits ~2× that (df² rows per key before
    * the `doc_a < doc_b` filter). That is deliberate: the join's extra
    * rows STREAM through the filter without buffering, and the
    * structure the width protects — the pair-grain aggregate's map-side
    * hash map — holds one entry per distinct pair, so C(df,2) is its
    * true working set and [[PairsPerPartition]] is calibrated to it. The
    * transient 2× row flow is headroom the target already absorbs.
    *
    * PRECONDITION (asserted): `dfCounts` must be a STAGED frame
    * (`Scratch.stage`/`staged` — a checkpointed LogicalRDD — or a
    * driver-local relation in tests). The forecast runs an EAGER
    * aggregate over it at plan-construction time; an unstaged postings
    * groupBy would be silently re-paid in full here and then again by
    * the caller's keep-list join.
    */
  def pairExpansionWidth(dfCounts: DataFrame, dfCol: String,
      maxDf: Int): Int =
    widthFromTwiceMass(dfCounts, dfCounts
      .filter(col(dfCol) <= maxDf)
      .agg(coalesce(sum(col(dfCol) * (col(dfCol) - lit(1L))), lit(0L))))

  /** [[pairExpansionWidth]] for STAR-degrading bucket expansions
    * ([[Dedup.bucketPairs]]): a bucket over `cap` is not DROPPED from
    * the output — it emits a linear star of (size − 1) pairs — so its
    * mass is counted linearly instead of excluded. Same constants, same
    * staged-frame precondition, same explicit-count contract (pass the
    * result as `repartition(width, …)` — AQE cannot see the in-bucket
    * expansion in the map-stage byte stats and would otherwise coalesce
    * the bucket frame to a handful of tasks, serializing the explode
    * and the pair-distinct's map-side aggregate; observed live as q27's
    * 219M-record, 10.6 GB-spill, 10-task stage at the 100× fixture).
    */
  def starPairWidth(dfCounts: DataFrame, dfCol: String, cap: Int): Int =
    widthFromTwiceMass(dfCounts, dfCounts
      .agg(coalesce(sum(
        when(col(dfCol) <= cap, col(dfCol) * (col(dfCol) - lit(1L)))
          .otherwise((col(dfCol) - lit(1L)) * lit(2L))), lit(0L))))

  /** Common tail of the pair-width forecasts: assert the staged-frame
    * precondition, run the 1-row eager mass aggregate (`massAgg` must
    * produce 2× the distinct-pair mass — the C(df,2) sums are written
    * un-divided as df·(df−1) to stay integer-exact), and clamp to
    * [defaultParallelism, [[MaxPairWidth]]] at [[PairsPerPartition]]
    * pairs per task.
    */
  private def widthFromTwiceMass(dfCounts: DataFrame,
      massAgg: DataFrame): Int = {
    val staged = dfCounts.queryExecution.analyzed.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }
    require(staged,
      "pair-width forecasts need a staged df-counts frame " +
        "(Scratch.stage/staged): the forecast aggregate is eager, and " +
        "an unstaged frame would re-pay its postings groupBy shuffle " +
        "here and again at the caller's keep-list join")
    val twiceMass = massAgg.head().getLong(0)
    val par = dfCounts.sparkSession.sparkContext.defaultParallelism
    math.min(MaxPairWidth,
      math.max(par, math.ceil(twiceMass / 2.0 / PairsPerPartition).toInt))
  }

  /** Distinct pairs per pair-expansion task (see [[pairExpansionWidth]]). */
  val PairsPerPartition = 1000000L

  /** Upper bound of a pair-expansion width (see [[pairExpansionWidth]]). */
  val MaxPairWidth = 4096

  /** The width policy as a physical rule. It runs after
    * `EnsureRequirements` — as an AQE query-stage preparation rule, and
    * as a pre-columnar rule for the plans AQE does not wrap (map-only
    * plans such as a checkpointed kernel frame) — so it sees where the
    * exchanges are and decides without running a job:
    *
    *   - input width is the partition count of the stage's input RDDs:
    *     file scans without runtime (subquery or dynamic-pruning)
    *     filters, `RDDScanExec` and local relations; a `Union` sums its
    *     children; a broadcast join counts its streamed side only.
    *     Anything else is unknown, and an unknown width inserts nothing;
    *   - heavy work is an engine kernel (any expression in
    *     `graft.functions`), a higher-order function, `split`, a regexp
    *     replace/extract-all or `levenshtein`; a `Generate` over an
    *     array-typed input column; or a typed-lambda map node whose
    *     input rows carry an array column (a per-row vector kernel, not
    *     a per-partition fold such as `Dedup.clusters`' union-find,
    *     which contracts less the more partitions it sees);
    *   - the exchange is `RoundRobinPartitioning(defaultParallelism)`
    *     with origin `REPARTITION_BY_NUM` — what `df.repartition(n)`
    *     plans, which AQE never coalesces. It goes directly under the
    *     lowest heavy node, so cheap filters and projections below it
    *     prune what crosses; a broadcast join under the heavy node is
    *     width-preserving, so the exchange goes under its streamed side
    *     instead of shipping the joined rows, and an object-typed child
    *     (a typed map's deserializer) moves it under that node.
    *
    * A one-partition input satisfies every distribution, so the stage
    * may hold aggregates or joins that planned no exchange; after an
    * insertion `EnsureRequirements` runs again and adds the shuffles a
    * wide input would have had.
    */
  case class WidenHeavyStages(session: SparkSession) extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan =
      if (!plan.exists(heavy)) plan // plain plans: no input-width probe
      else {
        val widened = widen(plan, session.sparkContext.defaultParallelism)._1
        if (widened eq plan) plan
        else EnsureRequirements(optimizeOutRepartition = false).apply(widened)
      }
  }

  /** `p` with its heavy stages widened, and the partition count `p`
    * outputs when its stage's input width is known. */
  private def widen(p: SparkPlan, par: Int): (SparkPlan, Option[Int]) = p match {
    case s: FileSourceScanExec => (p, Option.when(!(s.partitionFilters ++
        s.dataFilters).exists(_.exists(e => e.isInstanceOf[PlanExpression[_]] ||
        e.isInstanceOf[DynamicPruning])))(s.inputRDD.getNumPartitions))
    case s: InputRDDCodegen if s.children.isEmpty =>
      (p, Some(s.inputRDD.getNumPartitions)) // RDD and local relation scans
    case _ if p.children.isEmpty => (p, None) // incl. query stages
    case _ =>
      val (kids, widths) = p.children.map(widen(_, par)).unzip
      val q = if (kids.corresponds(p.children)(_ eq _)) p else p.withNewChildren(kids)
      val in = (q, streamedIndex(q)) match {
        case (_: Exchange, _) => None
        case (_, Some(i)) => widths(i)
        case (c: CoalesceExec, _) => widths.head.map(math.min(c.numPartitions, _))
        case (_: UnionExec, _) => Option.when(widths.forall(_.isDefined))(widths.flatten.sum)
        case (_: UnaryExecNode, _) => widths.head
        case _ => None
      }
      if (in.exists(_ < par) && heavy(q)) (under(q, par), Some(par)) else (q, in)
  }

  /** Child index of a broadcast join's streamed side. */
  private def streamedIndex(p: SparkPlan): Option[Int] = p match {
    case j: BroadcastHashJoinExec => Some(if (j.buildSide == BuildLeft) 1 else 0)
    case j: BroadcastNestedLoopJoinExec => Some(if (j.buildSide == BuildLeft) 1 else 0)
    case _ => None
  }

  /** `p` with the widening exchange on its input side (a broadcast join's
    * streamed side, else its child), pushed further under broadcast joins
    * and under object-typed nodes, whose rows cannot be shuffled. */
  private def under(p: SparkPlan, par: Int): SparkPlan = {
    val i = streamedIndex(p).getOrElse(0)
    val c = p.children(i)
    p.withNewChildren(p.children.updated(i,
      if (streamedIndex(c).isDefined || c.output.exists(_.dataType.isInstanceOf[ObjectType]))
        under(c, par)
      else ShuffleExchangeExec(RoundRobinPartitioning(par), c, REPARTITION_BY_NUM)))
  }

  private def heavy(p: SparkPlan): Boolean = p match {
    case _: MapPartitionsExec | _: MapElementsExec => p.children.head match {
      case d: DeserializeToObjectExec => d.child.output.exists(isArray)
      case _ => false
    }
    case g: GenerateExec if g.generator.children.exists {
      case Cast(a: Attribute, _, _, _) => isArray(a)
      case a: Attribute => isArray(a)
      case _ => false
    } => true
    case _ => p.expressions.exists(_.exists {
      case _: HigherOrderFunction | _: StringSplit | _: RegExpReplace |
          _: RegExpExtractAll | _: Levenshtein => true
      case e => e.getClass.getPackageName == "graft.functions"
    })
  }

  private def isArray(e: Expression): Boolean = e.dataType.isInstanceOf[ArrayType]
}
