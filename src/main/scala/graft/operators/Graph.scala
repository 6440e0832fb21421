package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Iterative graph analytics over edge DataFrames. Connected components
  * (pointer jumping) lives in [[Dedup.clusters]]; this adds PageRank —
  * the standard importance measure over the near-duplicate similarity
  * graph (a high-rank doc is the "canonical" member of a dense
  * near-dup neighborhood, a useful curation signal).
  *
  * Scale shape: each iteration is one shuffle — contributions =
  * ranks ⋈ edges grouped by destination; the edge list is partitioned
  * by src and reused every iteration (cached), ranks are the only
  * moving table. Lineage is truncated with localCheckpoint every few
  * iterations, the same barrier discipline as [[Dedup.clusters]] —
  * without it the plan doubles per iteration and the driver, not the
  * data, becomes the bottleneck.
  */
object Graph {

  /** PageRank with uniform teleport over the nodes present in `edges`
    * (directed; pass both directions for an undirected graph). Fixed
    * iteration count keeps the result deterministic and cross-engine
    * checkable.
    */
  def pageRank(edges: DataFrame, iters: Int = 5): DataFrame = {
    val srcCol = "src"
    val dstCol = "dst"
    val damping = 0.85
    require(iters >= 1 && damping > 0 && damping < 1)
    // explicit partition count: a column-only repartition is an
    // AQE-coalescible shuffle, and a small edge list would cache as ~one
    // partition — serializing every iteration's probe side (same trap as
    // the index layout writers, see Similarity.lshLayoutRows)
    val parallelism = Bridge.numShufflePartitions(edges.sparkSession)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .repartition(parallelism, col("src"))
      .cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct().cache()
    val n = nodes.count()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iters) {
      val contrib = ranks
        .join(outDeg, col("node") === col("src"))
        .join(e, "src")
        .select(col("dst").as("node"), (col("rank") / col("out_deg")).as("c"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .groupBy(col("node"))
        .agg((lit((1.0 - damping) / n) +
          lit(damping) * coalesce(sum(col("c")), lit(0.0))).as("rank"))
      if (i % 2 == 0 && i < iters) ranks = ranks.transform(Scratch.staged)
    }
    // Materialize the final ranks (localCheckpoint is eager), then release
    // the per-call caches — repeated invocations in one session must not
    // accumulate orphaned cached RDDs (same deterministic-release
    // discipline as [[Scratch.invalidate]]).
    val out = ranks.transform(Scratch.staged)
    e.unpersist()
    nodes.unpersist()
    out
  }

  /** Fixture wiring (q90): rank the near-dup graph of the documents
    * table. Edges are the verified minhash pairs (identical pair set to
    * the exact-Jaccard oracle — q26's parity), symmetrized. The pair
    * frame is the session-shared one ([[Dedup.minhashPairsShared]]) —
    * q26/q41/q42/q56/q80 consume the same frame, so the LSH pipeline
    * runs once per dataset, not once per query.
    */
  def docPageRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = new graft.cube.Engine(spark, dir).table("documents")
    val pairs = Dedup.minhashPairsShared(docs, dir).select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    pageRank(edges)
      .select(col("node").as("doc_id"), round(col("rank"), 6).as("rank"))
      .orderBy(col("doc_id"))
  }

  /** Per-node triangle counts over an undirected edge set (`a < b` pairs)
    * via the DEGREE-ORDERED node-iterator algorithm: every undirected
    * edge is directed from its lower-(degree, id) endpoint to the higher
    * one, so each triangle is enumerated exactly once — as the wedge at
    * its smallest vertex — and the wedge fan-out per node is bounded by
    * its ORDERED out-degree (O(sqrt(m)) on any graph), not its raw
    * degree. That bound is the whole scale story: the naive
    * edges⋈edges⋈edges join explodes on hub nodes (a degree-d hub makes
    * d² wedges; degree-ordering caps it), which is why this is the
    * standard distributed triangle algorithm. Two shuffle joins over the
    * directed edge list; per-node counts sum each triangle for all three
    * corners.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    // degree over the undirected pair set
    val deg = pairs.select(col("doc_a").as("node"))
      .union(pairs.select(col("doc_b")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient each edge low -> high in the (deg, id) total order
    val withDeg = pairs
      .join(deg.select(col("node").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("node").as("doc_b"), col("deg").as("db")), "doc_b")
    val directed = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("doc_a") < col("doc_b")),
        struct(col("doc_a").as("lo"), col("doc_b").as("hi")))
        .otherwise(struct(col("doc_b").as("lo"), col("doc_a").as("hi")))
        .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
      .cache()
    // wedges at the smallest vertex: (lo -> u), (lo -> w), u < w by id;
    // triangle iff the {u, w} edge exists. The closing probe must be an
    // EQUI-join (an OR over orientations would plan a cartesian product),
    // so the directed set is symmetrized for the lookup side — each
    // undirected edge appears once per direction, so the id-ordered wedge
    // matches exactly one row.
    val wedges = directed.as("e1")
      .join(directed.as("e2"), col("e1.lo") === col("e2.lo") &&
        col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"), col("e2.hi").as("c"))
    val closing = directed.select(col("lo").as("b"), col("hi").as("c"))
      .union(directed.select(col("hi").as("b"), col("lo").as("c")))
    val triangles = wedges.join(closing, Seq("b", "c"))
      .select(col("a"), col("b"), col("c"))
    // Materialize the census (small: one row per node), then release the
    // directed-edge cache so repeated calls hold no orphaned RDDs.
    val counts = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
      .transform(Scratch.staged)
    directed.unpersist()
    counts.orderBy(col("doc_id"))
  }

  /** Degree assortativity of an undirected pair graph: the Pearson
    * correlation of endpoint degrees over all directed edge instances —
    * positive means hubs link to hubs (one dense dup cluster), negative
    * means hubs link to leaves (template-and-variants duplication). The
    * degree frame is one rollup of the symmetrized edges; the power sums
    * are exact BIGINTs (degrees are small integers), so only the final
    * closed form is floating point. Single-row output:
    * (n_nodes, n_edges, assortativity).
    */
  def degreeAssortativity(pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val j = und
      .join(deg.select(col("node"), col("deg").as("dx")),
        col("src") === col("node")).drop("node")
      .join(deg.select(col("node").as("n2"), col("deg").as("dy")),
        col("dst") === col("n2")).drop("n2")
    j.agg(count(lit(1)).as("m"),
        Relational.powerSums(col("dx"), col("dy")): _*)
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"), expr("m div 2").as("n_edges"),
        Relational.pearson("m").as("assortativity"))
  }

  /** Fixture wiring (q102): triangle census of the near-dup graph —
    * dense triangle neighborhoods are template families (a curation
    * signal distinct from PageRank's centrality), and the count doubles
    * as the clustering-coefficient numerator. Shares the session pair
    * frame with the other six consumers.
    */
  def docTriangles(spark: SparkSession, dir: String): DataFrame = {
    val docs = new graft.cube.Engine(spark, dir).table("documents")
    triangleCounts(Dedup.minhashPairsShared(docs, dir)
      .select(col("doc_a"), col("doc_b")))
  }

  /** k-core peel census: `rounds` (3) FIXED iterations of the classic
    * degeneracy peel (drop every node with degree < k = 2, recompute,
    * repeat) over an undirected pair set, reporting per round how many
    * nodes were active and how many the round removed. The surviving
    * set after convergence is the k-core — the dense part of the
    * near-dup graph where clusters (q41) and triangles (q226) actually
    * live; the census says how much of the graph is shell vs core.
    * Fixed rounds keep the result deterministic and expressible as
    * UNROLLED ANSI SQL (an oracle cannot replay a data-dependent
    * iteration count); the last row's `n_removed = 0` certifies
    * convergence on the fixture.
    *
    * Scale: each round is one degree rollup plus two anti-joins, all
    * hash-partitioned on node id — never a global structure; lineage is
    * truncated per round with localCheckpoint (the [[pageRank]]
    * barrier discipline). Only the per-round COUNTS (2 longs × rounds)
    * ever reach the driver.
    */
  def kCorePeel(pairs: DataFrame): DataFrame = {
    val k = 2
    val rounds = 3
    val spark = pairs.sparkSession
    val parallelism = Bridge.numShufflePartitions(spark)
    var edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .repartition(parallelism, col("src"))
      .transform(Scratch.staged)
    val census = (1 to rounds).map { r =>
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val nNodes = deg.count()
      val removed = deg.filter(col("deg") < k).select(col("src").as("rm"))
      val nRemoved = removed.count()
      edges = edges
        .join(removed, col("src") === col("rm"), "left_anti")
        .join(removed, col("dst") === col("rm"), "left_anti")
        .transform(Scratch.staged)
      (r, nNodes, nRemoved)
    }
    import spark.implicits._
    census.toDF("peel_round", "n_nodes", "n_removed")
      .orderBy(col("peel_round"))
  }

  def docKCore(spark: SparkSession, dir: String): DataFrame = {
    val docs = new graft.cube.Engine(spark, dir).table("documents")
    kCorePeel(Dedup.minhashPairsShared(docs, dir)
      .select(col("doc_a"), col("doc_b")))
  }
}
