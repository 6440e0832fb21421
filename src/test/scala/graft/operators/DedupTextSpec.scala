package graft.operators

import graft.SparkFunSuite
import graft.functions.TextAnalysis
import org.apache.spark.sql.functions._

class DedupTextSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("shingles: 3-grams of a known sentence") {
    val df = docs((1L, "a b c d")).select(
      TextAnalysis.shingles(col("text"), 3).as("sh"))
    assert(df.collect().head.getSeq[String](0).toSet == Set("a b c", "b c d"))
  }

  test("shingles: doc shorter than n collapses to whole text") {
    val df = docs((1L, "a b")).select(TextAnalysis.shingles(col("text"), 3).as("sh"))
    assert(df.collect().head.getSeq[String](0) == Seq("a b"))
  }

  test("native minhash signature equals the builtin xxhash64 composition") {
    val real = spark.read.parquet(s"$sf/documents.parquet").limit(100)
    val sh = TextAnalysis.shingles(col("text"), 3)
    val builtin = array((0 until 64).map(k =>
      array_min(transform(sh, s => xxhash64(lit(k), s)))): _*)
    val cmp = real.select(
      graft.functions.TextExpressions.minhashSig(sh, 64).as("a"),
      builtin.as("b"))
      .filter(not(col("a") === col("b")))
    assert(cmp.count() == 0)
  }

  test("native shingles equal the HOF reference on real docs") {
    val real = spark.read.parquet(s"$sf/documents.parquet")
    val cmp = real.select(
      TextAnalysis.shingles(col("text"), 3).as("a"),
      TextAnalysis.shinglesHof(col("text"), 3).as("b"))
      .filter(not(col("a") === col("b")))
    assert(cmp.count() == 0)
  }

  test("exact dedup keeps min doc_id and counts copies") {
    val df = docs((5L, "same text"), (2L, "same text"), (9L, "other"))
    val out = Dedup.exact(df).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((2L, 2L), (9L, 1L)))
  }

  test("minhash finds a planted near-dup and skips unrelated docs") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ((0 until 39).map(i => s"tok$i") :+ "changed").mkString(" ")
    val other = (100 until 140).map(i => s"tok$i").mkString(" ")
    val out = Dedup.minhashPairs(docs((1L, base), (2L, nearDup), (3L, other)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("minhashJoin finds cross-corpus near-dups, never same-side pairs") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ((0 until 39).map(i => s"tok$i") :+ "changed").mkString(" ")
    val other = (100 until 140).map(i => s"tok$i").mkString(" ")
    // probes: base + unrelated; corpus: near-dup + an exact copy of "other"
    val out = Dedup.minhashJoin(
      docs((1L, base), (3L, other)),
      docs((2L, nearDup), (4L, other)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1↔2 near-dup across sides; 3↔4 exact duplicate across sides;
    // 1↔4 / 3↔2 unrelated must not appear
    assert(out == Set((1L, 2L), (3L, 4L)))
  }

  test("minhashJoin: a band hot on BOTH sides stays correct and bounded") {
    // The scaladoc's skew claim (a viral key hot on both sides is handled
    // by AQE's skew join, since the bipartite join has no star fallback)
    // made executable: 60 identical docs per side means every (band, sig)
    // bucket is maximally hot on both sides — the worst bipartite skew
    // shape. The join must still produce exactly the 60x60 true pairs at
    // jaccard 1.0 (nothing dropped by a cap, nothing duplicated by a
    // split) and none of the planted unrelated pairs.
    val viral = (0 until 40).map(i => s"tok$i").mkString(" ")
    val other = (100 until 140).map(i => s"tok$i").mkString(" ")
    val left = (0L until 60L).map(i => (i, viral)) :+ (900L, other)
    val right = (1000L until 1060L).map(i => (i, viral)) :+ (1900L, (200 until 240).map(i => s"tok$i").mkString(" "))
    val out = Dedup.minhashJoin(docs(left: _*), docs(right: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 3600, s"expected 60x60 pairs, got ${out.length}")
    assert(out.forall(_._3 == 1.0))
    assert(out.map(p => (p._1, p._2)).distinct.length == 3600, "duplicated pairs")
    assert(out.forall(p => p._1 < 900L && p._2 >= 1000L && p._2 < 1900L))
  }

  test("exact jaccardPairs matches the minhash pipeline where banding recall is 1") {
    // on the fixture the banded pipeline's recall is exactly 1.0 (pinned
    // below), so the exact inverted-index join must produce the SAME
    // relation — same pairs, same rounded jaccard
    val real = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val exact = withKey("exact")(k => Dedup.jaccardPairs(real, datasetKey = k).collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = Dedup.minhashPairs(real)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact == banded, "exact and banded pipelines must agree here")
    assert(exact.nonEmpty, "fixture must contain planted near-dups")
    Scratch.releaseAll(spark)
  }

  test("jaccardPairs df cap drops hot-gram evidence one-sidedly: no false positives") {
    // two identical docs whose every gram is corpus-hot: with the cap
    // below their df, all intersect evidence is dropped — the pair goes
    // UNDETECTED (recall loss) but nothing is invented (no false
    // positive), and set sizes keep the capped grams
    val hot = (1L to 6L).map(i => (i, "x y z w v u")).toList
    withKey("hot") { k =>
      val out = Dedup.jaccardPairs(docs(hot: _*), maxDf = 5, datasetKey = k)
      assert(out.count() == 0, "capped grams must not pair")
      val uncapped = Dedup.jaccardPairs(docs(hot: _*), maxDf = 6, datasetKey = k)
      assert(uncapped.count() == 15 &&
        uncapped.filter(col("jaccard") === 1.0).count() == 15,
        "with the cap above df the identical pairs all surface at j=1")
    }
    Scratch.releaseAll(spark)
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated far") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ((0 until 38).map(i => s"tok$i") ++ Seq("x", "y")).mkString(" ")
    val other = (100 until 140).map(i => s"tok$i").mkString(" ")
    val out = Dedup.simhashPairs(docs((1L, base), (2L, base), (3L, nearDup), (4L, other)),
      maxDist = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out((1L, 2L)) == 0)
    assert(out.get((1L, 3L)).exists(_ <= 16))
    assert(!out.contains((1L, 4L)))
  }

  test("LSH recall is 1.0 against brute-force all-pairs on the fixture") {
    // the recall gate ADVICE asks for: every true pair (exact jaccard >=
    // threshold over all O(n^2) pairs) must be found by the banded path.
    // Analytically P[miss] = (1-j^4)^16 — 1.6e-18 at the fixture's
    // planted j≈0.98 — so equality is expected, not just a tolerance.
    val real = spark.read.parquet(s"$sf/documents.parquet")
    val sh = real.select(col("doc_id"),
      TextAnalysis.shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("j") >= 0.8)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(real)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture must contain planted near-dups")
    assert(lsh == brute) // no false positives (verified) AND full recall
  }

  test("fixture invariant: banded recall is 1.0 at the driver gate's scale (sf0.01)") {
    // The driver's q26 gate is EXACT hash parity against the brute-force
    // Jaccard oracle, at sf0.01. Banded minhash (16x4) misses a true pair
    // at similarity j with p = (1-j^4)^16 — up to 2.2e-4 near the j=0.80
    // threshold — but the hash functions are seeded and DETERMINISTIC, so
    // for a FIXED fixture recall either is 1.0 on every run or fails on
    // every run; there is no per-run randomness. The sound, executable
    // form of the gate's precondition is therefore: banded recall == 1.0
    // on the deployed fixture, verified AT THE GATE'S OWN SCALE. (The
    // sibling sf0.001 recall test covers the unit-test fixture; this one
    // covers the fixture the driver actually hashes. The sf0.001 corpus
    // contains a true pair in the fragile band [0.8, 0.9) that the
    // deployed hashes DO catch — evidence the band is exercised, not
    // avoided.) If a regenerated fixture ever lands a boundary pair on a
    // miss, this fails HERE with the cause, instead of failing the driver
    // gate as an apparent engine bug; re-gate q26 with a recall tolerance
    // (the q29/q30 shape) in that case. Invariant recorded in SURVEY §5.
    val gateSf = "/root/testdata/sf0.01"
    val real = spark.read.parquet(s"$gateSf/documents.parquet")
    val sh = real.select(col("doc_id"),
      TextAnalysis.shingles(col("text"), 3).as("sh"))
    val brute = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        col("doc_a") < col("doc_b"))
      .withColumn("j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("j") >= 0.8)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(real)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "gate fixture must contain planted near-dups")
    val missed = brute -- lsh
    assert(missed.isEmpty,
      s"banded minhash missed true pair(s) $missed on the sf0.01 fixture: " +
        "the driver's exact-parity gate for q26 will fail. These pairs sit " +
        "where 16x4 banding's miss probability is non-negligible " +
        "(p=(1-j^4)^16, 2.2e-4 at j=0.8) — re-gate q26 with a recall " +
        "tolerance (see Dedup.minhashPairs scaladoc) or re-plant the " +
        "fixture's near-dups at j>=0.9.")
    assert(lsh == brute) // verified output: no false positives either
  }

  test("packed simhash fingerprint equals packSigns of the sign vector") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    val both = docs.select(
      graft.functions.TextExpressions.simhashFp(toks).as("fp"),
      Dedup.packSigns(graft.functions.TextExpressions.simhashSigns(toks, 64))
        .as("packed"),
      col("doc_id"))
    assert(both.filter(col("fp") =!= col("packed")).isEmpty)
    // and codegen'd bit_count hamming equals the sign-array hamming
    val a = both.select(col("doc_id").as("ia"), col("fp").as("fa")).limit(50)
    val b = both.select(col("doc_id").as("ib"), col("fp").as("fb")).limit(50)
    val signs = docs.limit(50).select(col("doc_id"),
      graft.functions.TextExpressions.simhashSigns(toks, 64).as("s"))
    val viaBits = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val viaArrays = signs.select(col("doc_id").as("ia"), col("s").as("sa"))
      .join(signs.select(col("doc_id").as("ib"), col("s").as("sb")),
        col("ia") < col("ib"))
      .select(col("ia"), col("ib"), Dedup.hamming(col("sa"), col("sb")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(viaBits == viaArrays && viaBits.nonEmpty)
  }

  test("simhash votes are the md5 bits (cross-engine portable contract)") {
    // A single-token doc's vote sums are exactly its ±1 votes, so the
    // packed fingerprint must equal the token's md5 word0 — the value any
    // engine derives as CAST('0x' || substr(md5('a'), 1, 16) AS UBIGINT).
    // md5("a") = 0cc175b9c0f1b6a831c399e269772661.
    val fp = graft.SparkTestBase.spark.range(1)
      .select(graft.functions.TextExpressions.simhashFp(array(lit("a"))).as("fp"))
      .collect().head.getLong(0)
    assert(fp == 0x0cc175b9c0f1b6a8L,
      f"fingerprint 0x$fp%016x diverged from the md5-vote contract")
  }

  test("native text expressions are SQL-callable after registration") {
    graft.functions.TextExpressions.register(spark)
    val one = spark.sql(
      """SELECT word_shingles('a b c d', 2) AS sh,
        |  minhash_sig(word_shingles('a b c d', 3), 4) AS mh,
        |  simhash_signs(word_shingles('a b c d', 2), 8) AS sg""".stripMargin)
      .collect().head
    assert(one.getSeq[String](0).toSet == Set("a b", "b c", "c d"))
    assert(one.getSeq[Long](1).length == 4)
    assert(one.getSeq[Int](2).length == 8)
    // non-literal arity is rejected at plan time, not silently wrong
    val err = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b', len('xx'))").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("oversized buckets emit a linear star, not a drop and not all pairs") {
    import graft.SparkTestBase.spark.implicits._
    val exploded = Seq(
      (0, 11L), (0, 12L), (0, 13L), (0, 14L), (0, 15L), // bucket of 5 > cap
      (1, 21L), (1, 22L), (1, 23L)) // bucket of 3 <= cap
      .toDF("bucket", "doc_id")
    val got = Dedup.bucketPairs(exploded, Seq("bucket"), "doc_id", maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = Set((11L, 12L), (11L, 13L), (11L, 14L), (11L, 15L))
    val allPairs = Set((21L, 22L), (21L, 23L), (22L, 23L))
    assert(got == star ++ allPairs)
  }

  test("capped bucket end-to-end: simhash near-dup degrades to a verified star") {
    // the q27/q30 oracle caveat, executed: 20 identical docs land in one
    // bucket of EVERY pigeonhole chunk; a cap of 10 forces the star
    // fallback inside the operator. The output must stay LINEAR (n-1
    // pairs, not n(n-1)/2 = 190), keep the star shape (every pair anchored
    // at the min doc_id), and every emitted pair must still pass the exact
    // hamming verification — degraded recall, never degraded precision.
    val n = 20
    val planted = (0 until n).map(i => (100L + i, "spark joins the stream table fast"))
    val other = Seq((500L, "completely different words entirely elsewhere"))
    val out = Dedup.simhashPairs(docs(planted ++ other: _*),
      maxDist = 3, maxBucketSize = 10).collect()
    assert(out.length == n - 1, s"star must emit n-1 pairs, got ${out.length}")
    assert(out.forall(_.getLong(0) == 100L), "star must anchor at the min doc_id")
    assert(out.forall(r => r.getLong(1) > 100L && r.getLong(1) < 100L + n),
      "the unrelated doc must not appear in any emitted pair")
    assert(out.forall(_.getInt(2) == 0), "identical docs verify at hamming 0")
  }

  test("capped bucket end-to-end: LSH embedding near-dup degrades to a verified star") {
    import graft.SparkTestBase.spark.implicits._
    // same contract on the embedding path: 20 identical vectors share one
    // bucket in every LSH table; the capped operator emits the verified
    // star (cosine exactly 1.0), not the quadratic blow-up
    val n = 20
    val planted = (0 until n).map { i =>
      (100L + i, Seq.fill(4)(0.5f) ++ Seq.fill(4)(0.1f), 1)
    }
    val other = Seq((500L, Seq.fill(4)(-0.5f) ++ Seq.fill(4)(0.2f), 2))
    val emb = (planted ++ other).toDF("vec_id", "embedding", "label")
    val out = Similarity.lshNearDupPairs(emb, threshold = 0.9,
      tables = 2, bitsPerTable = 4, dim = 8, maxBucketSize = 10).collect()
    assert(out.length == n - 1, s"star must emit n-1 pairs, got ${out.length}")
    assert(out.forall(_.getLong(0) == 100L), "star must anchor at the min vec_id")
    assert(out.forall(r => r.getLong(1) > 100L && r.getLong(1) < 100L + n))
    assert(out.forall(_.getDouble(2) == 1.0), "identical vectors verify at cosine 1")
  }

  test("clusters: chains merge to the min label; keep-list drops non-canonical") {
    import graft.SparkTestBase.spark.implicits._
    // components: {1,2,3} via chain 1-2, 2-3; {7,9}; 5 isolated (no pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val c = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    val docs = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val keep = Dedup.keepList(docs, pairs).collect().map(_.getLong(0)).toSeq
    assert(keep == Seq(1L, 5L, 7L))
  }

  test("clusters converge on a long chain (diameter > 2)") {
    import graft.SparkTestBase.spark.implicits._
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val c = Dedup.clusters(chain).collect().map(r => r.getLong(1)).distinct
    assert(c.toSeq == Seq(0L))
  }

  test("clusters: partition-spanning chain contracts and converges; " +
    "self-pair singleton survives") {
    import graft.SparkTestBase.spark.implicits._
    // 300-node chain scattered over 8 partitions by hash — every local
    // union-find sees a random SUBSET of the chain's edges, so the star
    // graph must stitch the fragments back across partitions. Plus one
    // self-paired node (42042), which must stay in the node set as its
    // own singleton cluster (the contraction must not drop self-edges).
    val n = 300L
    val pairs = ((0L until n - 1).map(i => (i, i + 1)) :+ (42042L, 42042L))
      .toDF("doc_a", "doc_b").repartition(8)
    val c = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(c.length == n.toInt + 1, s"node set must be preserved: ${c.length}")
    val byLabel = c.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLabel == Map(0L -> n.toInt, 42042L -> 1))
  }

  test("clusters rejects non-integral id columns with a named error") {
    import graft.SparkTestBase.spark.implicits._
    // the loop's sum-based convergence detector needs numeric labels; a
    // string id used to NPE deep inside the loop instead
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](Dedup.clusters(pairs))
    assert(e.getMessage.contains("integral id column"))
  }

  test("langId recognizes marker-heavy texts and CJK; und on no evidence") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "el perro y la casa de los gatos"),
      (4L, "中文文本"),
      (5L, "zzz qqq xxx")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "zh", 5L -> "und"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = docs((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).select(
      col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(3L) && m(1L) != m(2L))
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq((1L, "hello world, it's 42 degrees!")).toDF("doc_id", "text")
      .select(TextAnalysis.tokenCount(col("text")).as("ws"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe"))
    val r = df.collect().head
    assert(r.getInt(0) == 5)
    // hello|world|,|it|'|s|42|degrees|! = 9
    assert(r.getInt(1) == 9)
  }

  test("dupDegree is exactly the endpoint histogram of jaccardPairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val key = s"degree_${System.nanoTime()}"
    val pairs = Dedup.jaccardPairs(docs, maxDf = 256, datasetKey = key).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    val expected = (pairs.map(p => p._1 -> p._3) ++ pairs.map(p => p._2 -> p._3))
      .groupBy(_._1)
      .map { case (id, xs) => (id, xs.length, xs.map(_._2).max) }
      .toSet
    val got = Dedup.dupDegree(docs, maxDf = 256, datasetKey = key).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    Scratch.invalidate(spark)
    // max over per-pair ROUNDED jaccards equals round(max(unrounded)):
    // rounding is monotonic, so the two orders of max/round agree
    assert(got.toSet == expected)
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq, "ordered by doc_id")
  }

  test("keepBestPerCluster keeps exactly one member per cluster — the max-quality one") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minhashPairsShared(docs, sf)
    val comp = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.nonEmpty, "fixture must contain clusters")
    val quality = docs.select(col("doc_id"),
      graft.functions.TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val kept = Dedup.keepBestPerCluster(docs, pairs,
      graft.functions.TextAnalysis.qualityScore(col("text")))
      .collect().map(_.getLong(0)).toSet
    // same cardinality contract as the id-min keep-list: one survivor
    // per cluster plus every unclustered doc
    val keptMin = Dedup.keepList(docs, pairs).collect().map(_.getLong(0)).toSet
    assert(kept.size == keptMin.size)
    // per cluster: the survivor is the max-quality member (doc_id ties low)
    comp.groupBy(_._2).foreach { case (_, members) =>
      val ids = members.map(_._1)
      val best = ids.minBy(id => (-quality(id), id))
      assert(kept.contains(best), s"cluster of ${ids.toSeq.sorted} must keep $best")
      ids.filterNot(_ == best).foreach(id =>
        assert(!kept.contains(id), s"non-best member $id must be dropped"))
    }
  }
}
