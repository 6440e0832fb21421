package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkFunSuite

object ChaosRetrySpec {
  /** How many injected failures actually fired. A driver-side static
    * works because the test session is local-mode (tasks share the JVM);
    * an accumulator would NOT work — updates from failed tasks are
    * dropped (countFailedValues=false), and the injected task always
    * fails.
    */
  val fired = new AtomicInteger(0)
}

/** Task-retry determinism under partial failure.
  *
  * Preemption durability is priced (the reliable-checkpoint A/B), but a
  * PARTIAL failure — one task dies, Spark re-runs that attempt — is a
  * different execution reality: a retried task that re-executes a
  * nondeterministic stage (k-means init sampling, per-partition
  * union-find roots, mapPartitions kernels) must still produce
  * oracle-identical output, or a single lost executor silently changes
  * results at cluster scale. The test session runs `local[4,2]`
  * (maxFailures=2), and [[injectOnce]] wraps an operator's INPUT with a
  * map stage whose partition-0 task throws on its FIRST attempt and
  * succeeds on the retry — every downstream stage then consumes
  * retried-task output. Each path is asserted row-identical to its
  * clean twin.
  *
  * The seeded first-attempt throw fires on EVERY first attempt of
  * partition 0 of that stage (iterative operators that recompute the
  * input lineage across jobs inject repeatedly — more chaos, same
  * contract); the assertion that `fired` grew proves the failure was
  * actually exercised, not optimized away.
  */
class ChaosRetrySpec extends SparkFunSuite {

  private def injectOnce(df: DataFrame, tag: String): DataFrame = {
    val sp = df.sparkSession
    val schema = df.schema
    val rdd = df.rdd.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        ChaosRetrySpec.fired.incrementAndGet()
        throw new RuntimeException(
          s"[chaos:$tag] injected first-attempt task failure")
      }
      it
    }
    sp.createDataFrame(rdd, schema)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("connected components are identical when a task fails and retries") {
    val s2 = spark.newSession()
    import s2.implicits._
    // a long chain (multi-round pointer jumping) + islands: the
    // per-partition union-find roots depend on partition contents, so a
    // retried task must regroup the exact same rows
    val edges = ((1L to 40L).sliding(2).map(w => (w.head, w.last)) ++
      Iterator((100L, 101L), (102L, 103L), (101L, 102L))).toSeq
      .toDF("doc_a", "doc_b").repartition(4)
    val clean = sorted(Dedup.clusters(edges))
    Scratch.releaseAll(s2)
    val before = ChaosRetrySpec.fired.get()
    val chaotic = sorted(Dedup.clusters(injectOnce(edges, "clusters")))
    Scratch.releaseAll(s2)
    assert(ChaosRetrySpec.fired.get() > before,
      "the injected failure never fired — the chaos path was not exercised")
    assert(chaotic == clean,
      "clusters diverged after a task retry — nondeterministic stage")
  }

  test("IVF top-k is identical when a task fails and retries") {
    val s2 = spark.newSession()
    val emb = s2.read.parquet(s"$sf/embeddings.parquet")
    // distinct dataset keys: each run must build its own layout (the
    // memo would otherwise serve the clean run's index to the chaos run)
    val clean = sorted(Similarity.ivfTopK(emb, 0L, 10, nlist = 8,
      nprobe = 8, datasetKey = s"chaos-clean-${System.nanoTime()}"))
    Scratch.releaseAll(s2)
    val before = ChaosRetrySpec.fired.get()
    val chaotic = sorted(Similarity.ivfTopK(injectOnce(emb, "ivf"), 0L, 10,
      nlist = 8, nprobe = 8,
      datasetKey = s"chaos-ivf-${System.nanoTime()}"))
    Scratch.releaseAll(s2)
    assert(ChaosRetrySpec.fired.get() > before,
      "the injected failure never fired — the chaos path was not exercised")
    assert(chaotic == clean,
      "ivfTopK diverged after a task retry — k-means init or assignment " +
        "is attempt-dependent")
    Scratch.invalidate(s2)
  }

  test("semantic decontam census is identical when a task fails and retries") {
    val s2 = spark.newSession()
    val emb = s2.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val clean = sorted(Similarity.semanticDecontam(emb))
    Scratch.releaseAll(s2)
    val before = ChaosRetrySpec.fired.get()
    // the wrapped input feeds BOTH the driver-side eval collect and the
    // broadcast max-dot kernel — each job's first partition-0 attempt dies
    val chaotic = sorted(Similarity.semanticDecontam(injectOnce(emb, "decontam")))
    Scratch.releaseAll(s2)
    assert(ChaosRetrySpec.fired.get() > before,
      "the injected failure never fired — the chaos path was not exercised")
    assert(chaotic == clean,
      "semanticDecontam diverged after a task retry — the kernel's " +
        "accumulation is attempt-dependent")
  }
}
