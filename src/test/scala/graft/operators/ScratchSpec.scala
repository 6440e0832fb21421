package graft.operators

import graft.SparkFunSuite

/** The scratch-release contract: operators register their intra-query
  * checkpoint frames, the harness drains them at query boundaries, and
  * session memos survive the drain. Each test isolates its registry with
  * a child session (Scratch keys on the SparkSession instance), so
  * concurrently-running suites cannot pollute the counts.
  */
class ScratchSpec extends SparkFunSuite {

  test("operators register scratch frames; release drains the registry exactly") {
    val s2 = spark.newSession()
    import s2.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    assert(docs.sparkSession eq s2)
    assert(Scratch.releaseAll(s2) == 0)
    Corpus.oovRate(docs).collect()
    assert(Scratch.releaseAll(s2) >= 1,
      "oovRate must register its exploded counts frame as scratch")
    assert(Scratch.releaseAll(s2) == 0, "registry must drain on release")
  }

  test("session memos survive a scratch release; their blocks stay readable") {
    val s2 = spark.newSession()
    import s2.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val key = s"scratchspec_${System.nanoTime()}"
    val n = Dedup.minhashPairsShared(docs, key).count()
    assert(n == 1)
    val released = Scratch.releaseAll(s2)
    assert(released >= 1, "the shingle frame behind the pair memo is scratch")
    // the memoized pair frame itself must still be alive and correct
    assert(Dedup.minhashPairsShared(docs, key).count() == 1)
    Scratch.invalidate(s2)
  }

  test("registry entries of stopped sessions are pruned, not retained forever") {
    // a long-lived driver cycling sessions must not leak each dead
    // session through the registry's strong keys; the prune predicate is
    // injected so the JVM-wide shared context stays up for other suites
    val s2 = spark.newSession()
    import s2.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    Corpus.oovRate(docs).collect()
    // a session memo too: the prune must drop memo entries, not only ids
    val key = s"prunespec_${System.nanoTime()}"
    Dedup.minhashPairsShared(docs, key)
    def misses = Scratch.memoCounts.get("minhashPairs").fold(0L)(_._2)
    val misses0 = misses
    Dedup.minhashPairsShared(docs, key)
    assert(misses == misses0, "a live memo entry is a hit")
    // simulate s2's context being stopped: the prune drops its entry...
    assert(Scratch.pruneStopped(_ eq s2) == 1,
      "a stopped session's registry entry must be pruned")
    assert(Scratch.pruneStopped(_ eq s2) == 0, "prune is idempotent")
    // ...so a later drain has nothing to release for it
    assert(Scratch.releaseAll(s2) == 0)
    assert(Scratch.invalidate(s2) == 0)
    // ...and the memo entry is gone: the next call rebuilds
    Dedup.minhashPairsShared(docs, key)
    assert(misses == misses0 + 1, "a pruned session's memo must be a miss")
    Scratch.releaseAll(s2)
    Scratch.invalidate(s2)
    // live sessions are untouched by the prune
    val s3 = spark.newSession()
    val docs3 = { import s3.implicits._
      Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text") }
    Corpus.oovRate(docs3).collect()
    assert(Scratch.pruneStopped(_ eq s2) == 0)
    assert(Scratch.releaseAll(s3) >= 1, "live session entries must survive")
  }

  test("shared counts memo: keyed frames survive release, rebuild after invalidate") {
    val s2 = spark.newSession()
    import s2.implicits._
    val docs = Seq((1L, "a b a c"), (2L, "b b c d"), (3L, "e"))
      .toDF("doc_id", "text")
    val key = s"countsspec_${System.nanoTime()}"
    // collect() row order is plan-dependent (AQE coalesce can reorder
    // partitions between a build and a memo read) — compare sorted
    def sorted(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toString).sorted.toSeq
    def misses = Scratch.memoCounts.get("corpusCounts").fold(0L)(_._2)
    val uni = sorted(Corpus.unigramSurprisal(docs, key).collect())
    val bi = sorted(Corpus.bigramSurprisal(docs, key).collect())
    // the memo survives the scratch drain and keeps serving consumers
    Scratch.releaseAll(s2)
    val built = misses
    assert(Corpus.collocations(docs, minCount = 1, topK = 5,
      datasetKey = key).count() >= 1)
    assert(Corpus.zipfReport(docs, key).count() == 1)
    assert(sorted(Corpus.unigramSurprisal(docs, key).collect()) == uni)
    assert(sorted(Corpus.bigramSurprisal(docs, key).collect()) == bi)
    assert(misses == built, "released memo entries must still be hits")
    Scratch.invalidate(s2)
    // after invalidation a fresh build still answers correctly
    assert(sorted(Corpus.unigramSurprisal(docs, key).collect()) == uni)
    assert(misses == built + 1, "an invalidated memo must rebuild")
    Scratch.invalidate(s2)
  }

  test("shared counts memo rejects a different docs frame under the same key") {
    // the memo key is trusted and the docs frame otherwise ignored on a
    // hit — a filtered/derived frame reusing a key would silently read
    // another frame's counts; the semanticHash guard fails fast instead
    val s2 = spark.newSession()
    import s2.implicits._
    val docs = Seq((1L, "a b a"), (2L, "c d")).toDF("doc_id", "text")
    val key = s"guardspec_${System.nanoTime()}"
    Corpus.unigramSurprisal(docs, key).collect()
    val filtered = docs.filter($"doc_id" === 1L)
    val e = intercept[IllegalArgumentException] {
      Corpus.unigramSurprisal(filtered, key).collect()
    }
    assert(e.getMessage.contains("datasetKey"))
    // the same frame re-built identically still hits the memo
    val again = Seq((1L, "a b a"), (2L, "c d")).toDF("doc_id", "text")
    assert(Corpus.unigramSurprisal(again, key).count() > 0)
    Scratch.invalidate(s2)
  }

  test("q106 then q29 through the registry share one LSH layout build") {
    // the operator_pipeline sharing: the index-build query populates the
    // layout memo, the probe query reads it
    val s2 = spark.newSession()
    Scratch.invalidate(s2)
    def lsh = Scratch.memoCounts.getOrElse("lshIndex", (0L, 0L))
    val (hits0, misses0) = lsh
    graft.SparkEntry.queries("q106_lsh_index_build")(s2, sf).collect()
    graft.SparkEntry.queries("q29_embed_lsh_topk")(s2, sf).collect()
    assert(lsh == ((hits0 + 1, misses0 + 1)),
      "q106 must build the layout once and q29 must hit it")
    Scratch.releaseAll(s2)
    Scratch.invalidate(s2)
  }

  test("owned layout and roundtrip trees outlive invalidate, go when the context stops") {
    // the ANN layouts and the sink-roundtrip outputs a session writes are
    // recorded; invalidate keeps them (q154's disk-memoized base layout
    // must survive it), and the stop listener's prune deletes them all
    val s2 = spark.newSession()
    val emb = new graft.cube.Engine(s2, sf).table("embeddings")
    val key = s"ownedspec_${System.nanoTime()}"
    val lsh = Similarity.lshIndex(emb, key).path
    val ivf = Similarity.ivfIndex(emb, key).path
    graft.SparkEntry.queries("q91_shard_manifest")(s2, sf).collect()
    val shards = s"${System.getProperty("java.io.tmpdir")}/graft_shards_" +
      s"${s2.sparkContext.applicationId}_" + new java.io.File(sf).getName
    val trees = Seq(lsh, ivf, shards).map(java.nio.file.Paths.get(_))
    assert(trees.forall(java.nio.file.Files.exists(_)), s"not written: $trees")
    Scratch.releaseAll(s2)
    Scratch.invalidate(s2)
    assert(trees.forall(java.nio.file.Files.exists(_)),
      "invalidate must not delete a session's owned trees")
    // what the application-end listener runs for s2
    Scratch.pruneStopped(_ eq s2)
    val left = trees.filter(java.nio.file.Files.exists(_))
    assert(left.isEmpty, s"trees left after the stop hook: $left")
  }

  test("graph operators register their checkpoint frames as scratch") {
    // pageRank's iteration barriers and output, the triangle census and
    // every k-core peel round are staged; unregistered, their blocks
    // stayed pinned until GC instead of draining at the query boundary
    val s2 = spark.newSession()
    Scratch.invalidate(s2)
    val docs = new graft.cube.Engine(s2, sf).table("documents")
    Dedup.minhashPairsShared(docs, sf).collect() // the shared pair memo
    Scratch.releaseAll(s2)
    for (q <- Seq("q90_pagerank", "q102_triangles", "q315_kcore_peel")) {
      graft.SparkEntry.queries(q)(s2, sf).collect()
      assert(Scratch.releaseAll(s2) >= 1, s"$q must register its staged frames")
    }
    Scratch.invalidate(s2)
  }

  test("cluster iteration frames are scratch, released after the consumer drains") {
    val s2 = spark.newSession()
    import s2.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(Scratch.releaseAll(s2) >= 2,
      "edges and label rounds must be registered as scratch")
  }
}
