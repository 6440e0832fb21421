package graft.operators

import graft.SparkFunSuite
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class IvfSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  /** Synthetic well-separated clusters: 4 clusters x 25 vectors around
    * orthogonal-ish axes, so coarse quantization is meaningful (the
    * fixture embeddings are near-random).
    */
  private def clustered = {
    val rows = for {
      c <- 0 until 4
      i <- 0 until 25
    } yield {
      val base = Array.fill(16)(0.05f)
      base(c * 4) = 1.0f
      // deterministic small perturbation
      base(c * 4 + 1) = 0.1f + (i % 5) * 0.01f
      ((c * 25 + i).toLong, base.toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("kmeans finds the planted clusters") {
    val cents = Similarity.kmeans(clustered, k = 4, iters = 5).collect()
    assert(cents.length == 4)
    // each centroid should be dominated by one planted axis
    val axes = cents.map { r =>
      val c = r.getSeq[Double](1)
      c.indices.maxBy(c(_)) / 4
    }
    assert(axes.toSet == Set(0, 1, 2, 3))
  }

  test("ivf top-k on clustered data matches brute force") {
    val bf = Similarity.bruteForceTopK(clustered, 0L, 5)
      .collect().map(_.getLong(0)).toSeq
    val ivf = Similarity.ivfTopK(clustered, 0L, 5, nlist = 4, nprobe = 1,
      datasetKey = "ivfspec-clustered")
      .collect().map(_.getLong(0)).toSeq
    // query 0 lives in cluster 0; its true neighbors are in the same cell,
    // so probing a single cell recovers the exact top-k
    assert(ivf == bf)
  }

  test("ivf with all cells probed equals brute force on the fixture") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSeq
    val ivf = Similarity.ivfTopK(emb, 0L, 10, nlist = 8, nprobe = 8,
      datasetKey = "ivfspec-sf-exhaustive")
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == bf) // nprobe = nlist => exhaustive => exact
  }

  test("quantized two-stage rerank: exact stage dominates when the prefilter keeps everyone") {
    // rerankWidth >= corpus: stage 1 (int8 cosine) keeps every candidate,
    // so the output must be exactly the full-precision brute-force top-k
    // — proving the re-rank stage is the exact scorer and the plumbing
    // (quantize, prefilter cut, re-rank) loses nothing
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count().toInt
    val bf = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val reranked = Similarity.ivfQuantizedTopK(emb, 0L, 10,
      rerankWidth = n + 1, nlist = 8, nprobe = 8,
      datasetKey = "ivfspec-qrerank")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(reranked == bf)
    // a tight prefilter still returns k rows, each with both scores, and
    // int8-vs-float cosine agree within quantization error (<= ~1e-2 for
    // 64-dim int8) on every surfaced row
    val tight = Similarity.ivfQuantizedTopK(emb, 0L, 10, rerankWidth = 20,
      nlist = 8, nprobe = 8, datasetKey = "ivfspec-qrerank").collect()
    assert(tight.length == 10)
    tight.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) <= 0.05,
        s"approx/exact cosine diverge past quantization error: $r")
    }
  }

  test("ivf probe prunes storage partitions: only nprobe cell dirs are read") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = Similarity.ivfTopK(emb, 0L, 10, nlist = 8, nprobe = 2,
      datasetKey = "ivfspec-sf-pruned")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the probe's cell filter must hit the scan as a PARTITION filter
    // (directory pruning), never a post-scan data filter over all cells
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("PartitionFilters"))
    assert(scanLine.isDefined, s"no partition-filtered scan in:\n$plan")
    assert(scanLine.get.contains("cid"),
      s"cell filter missing from PartitionFilters: ${scanLine.get}")
    // and the layout on disk is one directory per cell
    val idx = Similarity.ivfIndex(emb, "ivfspec-sf-pruned", nlist = 8)
    val cellDirs = new java.io.File(idx.path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
    assert(cellDirs.length > 2, "index must be laid out cid-partitioned")
  }

  test("multi-table lsh probe prunes storage partitions and keeps recall on planted clusters") {
    val bf = Similarity.bruteForceTopK(clustered, 0L, 5)
      .collect().map(_.getLong(0)).toSet
    val tables = 4
    val planes = 4
    val df = Similarity.lshTopK(clustered, 0L, 5, planes = planes, dim = 16,
      tables = tables, datasetKey = "lshspec-clustered")
    val got = df.collect().map(_.getLong(0)).toSet
    // 4 independent tables multiply the per-table miss probability: the
    // multi-probe over Hamming-1 buckets in EVERY table must recover at
    // least 4 of the 5 true neighbors (single-table gate was 3)
    assert((bf intersect got).size >= 4, s"recall too low: $got vs $bf")
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("PartitionFilters"))
    assert(scanLine.isDefined && scanLine.get.contains("bucket") &&
      scanLine.get.contains("tbl"),
      s"tbl partition pruning + exact-bucket residual must reach the " +
        s"scan:\n$plan")
    // the probe admits at most tables x (planes + 1) (tbl, bucket-prefix)
    // directories — verify the layout is per-table on disk with the
    // occupancy-sized prefix granularity (exact bucket is a data column)
    val layout = Similarity.lshIndex(clustered, "lshspec-clustered",
      planes = planes, dim = 16, tables = tables)
    val tblDirs = new java.io.File(layout.path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("tbl="))
    assert(tblDirs.length == tables, "index must be laid out tbl-partitioned")
    tblDirs.foreach { t =>
      assert(t.listFiles().exists(f =>
        f.isDirectory && f.getName.startsWith("bpfx=")),
        s"table dir ${t.getName} must be bucket-prefix-partitioned")
    }
  }

  test("multi-table lsh probe reads at most tables x (planes+1) directories") {
    // near-random fixture embeddings fill the bucket space, so the layout
    // has far more directories than the probe bound — the partition-
    // pruned scan must touch only the admitted (tbl, bucket) combos
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val tables = 2
    val planes = 4
    val df = Similarity.lshTopK(emb, 0L, 10, planes = planes, dim = 64,
      tables = tables, datasetKey = "lshspec-sf-bound")
    df.collect()
    val layout = Similarity.lshIndex(emb, "lshspec-sf-bound",
      planes = planes, dim = 64, tables = tables)
    val allDirs = new java.io.File(layout.path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("tbl="))
      .flatMap(_.listFiles())
      .count(f => f.isDirectory && f.getName.startsWith("bpfx="))
    assert(allDirs > tables * (planes + 1) - tables,
      s"layout too small to demonstrate pruning: $allDirs dirs")
    // the scan's partition count after pruning is the probe bound —
    // descend through AQE wrappers to reach the executed scan node
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case s: QueryStageExec => allNodes(s.plan)
      case o => o.children.flatMap(allNodes)
    })
    val scans = allNodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a file scan in the probe plan")
    val partsRead = scans.head.metrics.get("numPartitions").map(_.value)
    partsRead.foreach { n =>
      assert(n <= tables * (planes + 1),
        s"probe read $n partition dirs, bound ${tables * (planes + 1)}")
    }
  }

  test("ivf knn join: exhaustive regime equals the exact knn join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.knnJoin(emb, queries, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val indexed = Similarity.ivfKnnJoin(emb, queries, 3,
      nlist = 8, nprobe = 8, datasetKey = "ivfspec-knnjoin").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(indexed == exact)
  }

  test("ivf knn join: probed regime keeps recall on planted clusters") {
    val queries = clustered.filter(col("vec_id").isin(0L, 25L, 50L, 75L))
    val exact = Similarity.knnJoin(clustered, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val probed = Similarity.ivfKnnJoin(clustered, queries, 5,
      nlist = 4, nprobe = 1, datasetKey = "ivfspec-knnjoin-clustered")
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    // each query's true neighbors live in its own planted cell, so a
    // single-cell probe recovers the exact top-5 per query
    assert(probed.keySet == exact.keySet)
    exact.foreach { case (q, rows) =>
      val got = probed(q).map(_._2).toSet
      val want = rows.map(_._2).toSet
      assert((want intersect got).size >= 4, s"recall too low for q=$q")
    }
  }

  test("ivf hard negatives: exhaustive regime equals the exact miner") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.hardNegatives(emb, queries, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSeq
    val indexed = Similarity.ivfHardNegatives(emb, queries, 3,
      nlist = 8, nprobe = 8, datasetKey = "ivfspec-hardneg").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSeq
    assert(indexed == exact)
  }

  test("ivf hard negatives: probed regime keeps recall on planted hard cluster") {
    // the flat `clustered` fixture makes every foreign cluster equidistant
    // from a query (recall there is a coin flip, not a property) — plant a
    // TIERED structure instead: cluster 1 shares a strong dim-0 component
    // with cluster 0, so it is both the cosine-hardest negative set AND
    // the L2-nearest foreign centroid. A 2-cell probe (own cell + nearest
    // foreign) must then recover the exact miner's top negatives.
    val rows = for { c <- 0 until 4; i <- 0 until 25 } yield {
      val base = Array.fill(16)(0.05f)
      base(c * 4) = 1.0f
      if (c == 1) base(0) = 0.5f
      base(c * 4 + 1) = 0.1f + (i % 5) * 0.01f
      ((c * 25 + i).toLong, base.toSeq, c)
    }
    val tiered = rows.toDF("vec_id", "embedding", "label")
    val queries = tiered.filter(col("vec_id") === 0L)
    val exact = Similarity.hardNegatives(tiered, queries, 5).collect()
      .map(_.getLong(2)).toSet
    // sanity: the hard negatives really are the planted near cluster
    assert(exact.forall(id => id >= 25 && id < 50), s"fixture broken: $exact")
    val probed = Similarity.ivfHardNegatives(tiered, queries, 5,
      nlist = 4, nprobe = 2, datasetKey = "ivfspec-hardneg-tiered")
      .collect().map(_.getLong(2)).toSet
    assert((exact intersect probed).size >= 4,
      s"recall too low: $probed vs $exact")
  }

  test("hard negatives exclude the query's own label and rank by cosine") {
    val out = Similarity.hardNegatives(
      clustered, clustered.filter(col("vec_id") === 0L), k = 5).collect()
    assert(out.length == 5)
    assert(out.forall(_.getInt(3) != 0), "query label 0 must be excluded")
    val sims = out.map(_.getDouble(4))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(out.map(_.getInt(1)).toSeq == (1 to 5))
  }

  test("different index parameters never share a layout") {
    // regression: q46 (nlist=16) ran before q101 (nlist=8) and the memo,
    // keyed only on dataset, silently served the 16-cell layout — an
    // "exhaustive" 8-probe then read half the cells
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = Similarity.ivfIndex(emb, "ivfspec-params", nlist = 16)
    val b = Similarity.ivfIndex(emb, "ivfspec-params", nlist = 8)
    assert(a.path != b.path, "distinct nlist must get distinct layouts")
    assert(a.centroids.length == 16 && b.centroids.length == 8)
  }

  test("session index memos invalidate cleanly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = Similarity.ivfIndex(emb, "ivfspec-invalidate", nlist = 4)
    assert(Similarity.ivfIndex(emb, "ivfspec-invalidate", nlist = 4) eq a)
    Scratch.invalidate(spark)
    val b = Similarity.ivfIndex(emb, "ivfspec-invalidate", nlist = 4)
    assert(!(b eq a), "invalidate must force a rebuild")
  }

  test("index layouts honor spark.graft.indexDir and the probe still answers") {
    withTempDir("graft_idx_root") { root =>
      spark.conf.set("spark.graft.indexDir", root)
      try {
        Scratch.invalidate(spark)
        val path = Similarity.lshIndex(clustered, "lshspec-configured-root",
          planes = 4, dim = 16, tables = 2).path
        assert(path.startsWith(root),
          s"index must live under the configured root: $path")
        val got = Similarity.lshTopK(clustered, 0L, 5, planes = 4, dim = 16,
          tables = 2, datasetKey = "lshspec-configured-root").collect()
        assert(got.nonEmpty, "probe against the configured root returned nothing")
      } finally {
        spark.conf.unset("spark.graft.indexDir")
        Scratch.invalidate(spark)
      }
    }
  }

  test("probe path stays on the Hadoop FileSystem API (no java.io.File in Similarity)") {
    // the round-6 hazard: a java.io.File existence check on the probe path
    // silently empties the probe when the index root is HDFS/S3. Gate the
    // whole operator file — index paths are opaque strings + hadoop Paths.
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/main/scala/graft/operators/Similarity.scala"))
    assert(!src.contains("java.io.File"),
      "Similarity.scala must not touch java.io.File — probe dirs live on " +
        "whatever filesystem spark.graft.indexDir resolves to")
  }

  test("decodeFeatures computes the byte-histogram features exactly") {
    val docs = Seq((3L, "aaaa", "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.decodeFeatures(docs).collect().head
    assert(r.getInt(2) == 4)      // n_bytes
    assert(r.getDouble(3) == 4.0) // all bytes 0x61 -> one bin of count 4
    assert(r.getInt(4) == 6)      // 0x61 / 16 = bin 6
  }

  test("resize and frame-sample are deterministic and bounded") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val a = Multimodal.resizeAndSample(docs).collect()
    val b = Multimodal.resizeAndSample(docs).collect()
    assert(a.toSeq == b.toSeq)
    a.foreach { r =>
      val (n, resized, frames, sampled) =
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
      assert(resized <= math.max(64, n / (n / 64).max(1) + 1))
      assert(sampled == (frames + 3) / 4)
    }
  }

  test("incremental append: exhaustive probe equals brute force over base ∪ delta") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val bf = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSeq
    val inc = Similarity.ivfIncrementalTopK(base, delta, 0L, 10,
      nlist = 8, nprobe = 8, datasetKey = "ivfspec-incr")
      .collect().map(_.getLong(0)).toSeq
    assert(inc == bf)
  }

  test("incremental LSH append: appended layout probes exactly like a full rebuild") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val full = Similarity.lshTopK(emb, 0L, 10, datasetKey = "lshspec-full")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val inc = Similarity.lshIncrementalTopK(base, delta, 0L, 10,
      datasetKey = "lshspec-incr")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // banding keys are pure functions of the vector, so append ≡ rebuild
    assert(inc == full)
    // layout holds tables × corpus rows, and re-calls never double-append
    val path = Similarity.lshIndexIncremental(base, delta, "lshspec-incr").path
    val n = emb.count() * 4
    assert(spark.read.parquet(path).count() == n)
    Similarity.lshIndexIncremental(base, delta, "lshspec-incr")
    assert(spark.read.parquet(path).count() == n)
  }

  test("incremental LSH rebuild after invalidation reuses the disk base and converges") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val path = Similarity.lshIndexIncremental(base, delta, "lshspec-amort").path
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$path/gen=base/_SUCCESS")
    val t0 = fs.getFileStatus(marker).getModificationTime
    // memo cleared (the bench's per-pass policy): the cold call must
    // NOT rewrite the base subtree — only the delta Overwrite re-runs —
    // and the layout stays exactly base ∪ delta (no double-append)
    Scratch.invalidate(spark)
    val path2 = Similarity.lshIndexIncremental(base, delta, "lshspec-amort").path
    assert(path2 == path)
    assert(fs.getFileStatus(marker).getModificationTime == t0,
      "base subtree must be disk-memoized across memo invalidation")
    assert(spark.read.parquet(path).count() == emb.count() * 4)
    // and the probe through the converged layout is still q29's relation
    val full = Similarity.lshTopK(emb, 0L, 10, datasetKey = "lshspec-full")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val inc = Similarity.lshIncrementalTopK(base, delta, 0L, 10,
      datasetKey = "lshspec-amort")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(inc == full)
  }

  test("incremental append: layout converges to base ∪ delta, idempotently, on frozen centroids") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val n = emb.count()
    val idx = Similarity.ivfIndexIncremental(base, delta,
      datasetKey = "ivfspec-incr2", nlist = 4)
    assert(spark.read.parquet(idx.path).count() == n)
    // a second call under a live memo must not double-append
    Similarity.ivfIndexIncremental(base, delta,
      datasetKey = "ivfspec-incr2", nlist = 4)
    assert(spark.read.parquet(idx.path).count() == n)
    // after invalidation the base rebuild Overwrites, then the append
    // re-runs: the on-disk state converges to base ∪ delta either way
    Scratch.invalidate(spark)
    val idx2 = Similarity.ivfIndexIncremental(base, delta,
      datasetKey = "ivfspec-incr2", nlist = 4)
    assert(spark.read.parquet(idx2.path).count() == n)
    // every delta row sits in the cell its FROZEN-centroid assignment
    // dictates (ties to the lowest cid, like assignToCentroids)
    val laidDelta = spark.read.parquet(idx2.path)
      .filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"), col("cid").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    delta.select(col("vec_id"), col("embedding")).collect().foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val best = idx2.centroids.minBy { case (cid, c) =>
        (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }._1
      assert(laidDelta(id) == best,
        s"delta vec $id landed in cell ${laidDelta(id)}, nearest frozen centroid is $best")
    }
  }
}
