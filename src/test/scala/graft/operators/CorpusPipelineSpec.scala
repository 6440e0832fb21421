package graft.operators

import graft.SparkFunSuite
import graft.functions.TextAnalysis
import org.apache.spark.sql.functions._

/** Specs for the round-2 pipeline operators: benchmark decontamination,
  * sequence packing (distributed prefix sum), temperature resampling, and
  * PII/blocklist scrubbing.
  */
class CorpusPipelineSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  test("decontaminate flags exactly the docs sharing an n-gram with the bench set") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),   // shares "alpha beta" with bench
      (2L, "epsilon zeta eta theta"),   // clean
      (3L, "x alpha beta y alpha beta") // shares, distinct-gram count = 1
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "q alpha beta r")).toDF("doc_id", "text")
    val out = Corpus.decontaminate(docs, bench, n = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(out == Seq((1L, 1), (3L, 1)))
  }

  test("packSequences is an exclusive prefix sum in hash order with correct bins") {
    val docs = Seq.tabulate(10)(i => (i.toLong, Seq.fill(i + 1)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Corpus.packSequences(docs, budget = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // reconstruct the expected order: multiplicative hash then doc_id
    val key = (id: Long) => (((id & 0x7FFFFFFFL) * 2654435761L) % 1000000007L + 1000000007L) % 1000000007L
    val ordered = (0L until 10L).sortBy(id => (key(id), id))
    var off = 0L
    val expected = ordered.map { id =>
      val n = id.toInt + 1
      val row = (id, n, off, off / 7, off % 7)
      off += n
      row
    }.sortBy(_._1)
    assert(out.sortBy(_._1).toSeq == expected)
  }

  test("packSequences offsets are invariant to input partitioning") {
    val docs = Seq.tabulate(50)(i => (i.toLong, Seq.fill(i % 7 + 1)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val a = Corpus.packSequences(docs.repartition(1), budget = 16)
      .collect().map(r => r.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    val b = Corpus.packSequences(docs.repartition(13, col("doc_id")), budget = 16)
      .collect().map(r => r.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(a == b)
  }

  test("temperatureResample keeps the smallest language whole and downsamples the rest") {
    val docs = (1L to 400L).map(i => (i, if (i <= 16) "fr" else "en"))
      .toDF("doc_id", "lang")
    val out = Corpus.temperatureResample(docs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(out("fr")._1 == 16 && out("fr")._2 == 1.0 && out("fr")._3 == 16)
    // en: rate = sqrt(16/384) ≈ 0.2041 — kept count near rate*384, and
    // strictly a downsample
    assert(math.abs(out("en")._2 - math.sqrt(16.0 / 384.0)) < 1e-3)
    assert(out("en")._3 < 384)
  }

  test("invertedIndex caps postings but counts full document frequency") {
    val docs = (1L to 30L).map(i => (i, if (i <= 25) "common word" else "word"))
      .toDF("doc_id", "text")
    val out = withKey("postings")(k =>
      Corpus.invertedIndex(docs, maxPostings = 5, datasetKey = k).collect())
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    // "common" appears in 25 docs: df keeps all, postings cap at first 5
    assert(out("common") == (25L, "1,2,3,4,5"))
    assert(out("word")._1 == 30L && out("word")._2 == "1,2,3,4,5")
  }

  test("charsHistogram buckets are right-closed at the last bin and cover all docs") {
    val out = Relational.charsHistogram(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.map(_._3).sum == 500)
    out.foreach { case (bucket, lo, _, mn, mx) =>
      assert(lo == bucket * 100)
      assert(mn >= bucket * 100)
      if (bucket < 9) assert(mx < (bucket + 1) * 100) // overflow pools in bin 9
    }
  }

  test("dailyDeltas: delta and pct reconstruct from consecutive day values") {
    val rows = Relational.dailyDeltas(spark, sf).collect()
    assert(rows.length > 1)
    assert(rows.head.isNullAt(3) && rows.head.isNullAt(4)) // no prior day
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getDouble(3) == prev.getDouble(2)) // prev_value = lag
      assert(cur.getDouble(4) == cur.getDouble(2) - prev.getDouble(2))
    }
  }

  test("unigramSurprisal: corpus-frequent docs score below lexically rare docs") {
    // 4 docs; "the cat" tokens dominate the corpus, "zyx wvu" are unique.
    val df = Seq(
      (1L, "the cat the cat the cat"),
      (2L, "the cat the cat the cat"),
      (3L, "the cat the cat the cat"),
      (4L, "zyx wvu qpo nml kji hgf")
    ).toDF("doc_id", "text")
    val out = withKey("unigram")(k => Corpus.unigramSurprisal(df, k).collect())
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L)._1 == 6 && out(4L)._1 == 6)
    // identical docs score identically; the all-rare doc scores strictly higher
    assert(out(1L)._2 == out(2L)._2 && out(2L)._2 == out(3L)._2)
    assert(out(4L)._2 > out(1L)._2)
    // exact value: common tokens have p=9/24 -> surprisal log2(24/9);
    // rare tokens p=1/24 -> log2(24)
    val common = math.log(24.0 / 9.0) / math.log(2.0)
    assert(math.abs(out(1L)._2 - math.rint(common * 1e4) / 1e4) < 1e-9)
    val rare = math.log(24.0) / math.log(2.0)
    assert(math.abs(out(4L)._2 - math.rint(rare * 1e4) / 1e4) < 1e-9)
  }

  test("scrub masks URLs, emails, and word-bounded blocklist terms") {
    val bl = Seq("secret")
    val df = Seq(
      (1L, "contact me at a.b+c@mail.example.org today"),
      (2L, "see https://example.com/x?y=1 for details"),
      (3L, "the secret plan is secretly not secret"),
      (4L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.scrub(col("text"), bl).as("s"),
        TextAnalysis.scrubCount(col("text"), bl).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq.sortBy(_._1)
    assert(out(0)._2 == "contact me at <MASK> today" && out(0)._3 == 1)
    assert(out(1)._2 == "see <MASK> for details" && out(1)._3 == 1)
    // "secretly" must NOT match (word boundary); two bare "secret" do
    assert(out(2)._2 == "the <MASK> plan is secretly not <MASK>" && out(2)._3 == 2)
    assert(out(3)._2 == "nothing sensitive here" && out(3)._3 == 0)
  }

  test("bigramCounts keeps multiplicity and guards sub-2-token docs") {
    val docs = Seq(
      (1L, "a b a b c"),  // bigrams: "a b" x2, "b a", "b c"
      (2L, "solo")        // no bigrams — must emit zero rows, not [1,0] garbage
    ).toDF("doc_id", "text")
    val out = Corpus.bigramCounts(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set((1L, "a b", 2L), (1L, "b a", 1L), (1L, "b c", 1L)))
  }

  test("bigram surprisal: uniform bigram distribution gives log2(vocab) everywhere") {
    // every bigram occurs exactly once corpus-wide -> p = 1/4 for all,
    // avg surprisal = 2 bits for every doc
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val out = withKey("bigram")(k => Corpus.bigramSurprisal(docs, k).collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, 2, 2.0), (2L, 2, 2.0)))
  }

  test("docHash membership is wrap-safe and engine-portable at ids >= 2^31") {
    // The unmasked Knuth multiply overflows long for ids >= ~2^32 — Spark
    // would wrap silently (non-ANSI) while an ANSI oracle traps. The
    // masked form bounds the product below 2^63, so exact BigInt
    // arithmetic (the portable ANSI semantics any oracle computes) must
    // agree with Spark's evaluation at every id, including the extremes.
    val ids = Seq(0L, 1L, (1L << 31) - 1, 1L << 31, (1L << 32) + 123L,
      5000000000L, 1L << 62, Long.MaxValue)
    val expected = ids.map { id =>
      val masked = BigInt(id & 0x7FFFFFFFL) * BigInt(2654435761L)
      (id, (masked % 100).toLong, (masked % 1000000L).toLong)
    }
    val got = ids.toDF("doc_id")
      .select(col("doc_id"),
        pmod(Corpus.docHash(col("doc_id")), lit(100)).as("b100"),
        pmod(Corpus.docHash(col("doc_id")), lit(1000000L)).as("b1m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    assert(got == expected.sortBy(_._1))
    // and the split assignment built on it stays total + deterministic
    val splits = Corpus.splitAssign(ids.map((_, "x")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    expected.foreach { case (id, b100, _) =>
      val want = if (b100 < 80) "train" else if (b100 < 90) "val" else "test"
      assert(splits(id) == want)
    }
  }

  test("bm25 ranks by matched terms and term frequency; non-matching docs absent") {
    // equal doc lengths and equal idf for both terms isolate the tf /
    // coverage behavior: two distinct matched terms beat one term at
    // tf=2 (bm25's tf saturation), which beats a single match
    val docs = Seq(
      (1L, "apple apple x y z"),
      (2L, "apple banana x y z"),
      (3L, "x y z w v"),
      (4L, "banana x y z w")
    ).toDF("doc_id", "text")
    val out = Corpus.bm25TopDocs(docs, Seq("apple", "banana"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(out.map(_._1).toSeq == Seq(2L, 1L, 4L)) // doc 3 matches nothing
    assert(out.head._3 == 2 && out(1)._3 == 1)
    assert(out(1)._2 > out(2)._2) // tf=2 outscores tf=1 at equal idf/length
  }

  test("oovRate measures the token mass outside the top-K vocabulary") {
    // corpus frequencies: a=5, b=4 -> top-1 vocab = {a}; every b is OOV
    val docs = Seq((1L, "a a a b"), (2L, "a a b b b")).toDF("doc_id", "text")
    val out = Corpus.oovRate(docs, vocabSize = 1).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(out(1L) == (4, 0.25))
    assert(out(2L) == (5, 0.6))
  }

  test("dedupSpans drops exactly the cross-document blocks and preserves order") {
    // docs 1 and 2 share the block "nav home about"; doc 1 repeats a
    // block INTERNALLY only ("x y z" twice) — internal repeats are q57's
    // concern, not boilerplate, so both copies survive. Doc 3 is pure
    // boilerplate and survives as an empty string; doc 4 has a short
    // trailing block (truncating slice).
    val docs = Seq(
      (1L, "nav home about x y z x y z"),
      (2L, "nav home about unique middle words tail end bit"),
      (3L, "nav home about"),
      (4L, "solo doc words tail2")
    ).toDF("doc_id", "text")
    val out = Corpus.dedupSpans(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("x y z x y z", 3L, 1L)))
    assert(out(2L) == (("unique middle words tail end bit", 3L, 1L)))
    assert(out(3L) == (("", 1L, 1L)))
    assert(out(4L) == (("solo doc words tail2", 2L, 0L)))
  }

  test("leakageAudit reports eval docs near-dupped with train docs, nothing else") {
    // doc 13 hashes to 'test', docs 1/2 to 'train' (masked multiplicative
    // hash % 100). 13 near-dups 1 (identical text) -> must be reported
    // with n_leaks=1, jaccard 1.0; 18 ('test') has no near-dup and 2
    // ('train') near-dups nothing in eval direction -> neither appears.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, "totally different words making no shared shingles at all here"),
      (13L, base),
      (18L, "yet another unrelated document body with its own tokens only")
    ).toDF("doc_id", "text")
    val out = Corpus.leakageAudit(docs, s"leak_${System.nanoTime()}")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    assert(out.toSeq == Seq((13L, "test", 1, 1.0)), s"got ${out.toSeq}")
  }

  test("packingReport counts bins, straddlers, and density from the pack layout") {
    // three 6-token docs at budget 10: offsets 0/6/12 (hash order is a
    // permutation but sizes are equal so the layout is the same) ->
    // bins 0/0/1, one straddler (starts at offset 6, spills past 10),
    // density 18 / (2*10) = 0.9
    val six = "a b c d e f"
    val docs = Seq((1L, six), (2L, six), (3L, six)).toDF("doc_id", "text")
    val r = Corpus.packingReport(docs, budget = 10).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 18L)
    assert(r.getInt(2) == 1)
    assert(r.getDouble(3) == 0.9)
  }

  test("decontaminateMany tags hits per suite from one corpus pass") {
    val evalA = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val evalB = Seq((200L, "one two three four")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta extra words here now"), // 1 gram hits A
      (2L, "one two three four tail"),                     // 1 gram hits B
      (3L, "totally clean text with no overlap at all")
    ).toDF("doc_id", "text")
    val out = Corpus.decontaminateMany(docs,
      Seq("A" -> evalA, "B" -> evalB), n = 4).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getInt(2))).toMap
    assert(out == Map((1L, "A") -> 1, (2L, "B") -> 1), s"got $out")
  }

  test("topQualityPerGroup keeps the k best by quality per group, merit-ordered") {
    // within 'en': the 64-token all-distinct alpha doc far outscores the
    // two-token one; 'fr' has a single doc which must rank 1 regardless
    val rich = (0 until 64).map(i => s"w${('a' + i % 26).toChar}$i").mkString(" ")
    val docs = Seq(
      (1L, "a b", "en"), (2L, rich, "en"), (3L, "c d", "en"),
      (4L, "e f", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = Corpus.topQualityPerGroup(docs, "lang", 2).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(out.length == 3)
    assert(out.take(2).map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("en", 1, 2L), ("en", 2, 1L)))
    assert(out(2) == (("fr", 1, 4L)))
  }

  test("zipfReport: geometric frequencies give the analytic log-log slope") {
    // freqs 8/4/2/1 at ranks 1..4: slope = sum(dx*dy)/sum(dx^2) over
    // (ln rk, ln f) ≈ -1.4591; top-10 covers everything at vocab 4
    val docs = Seq(
      (1L, (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++ Seq("d"))
        .mkString(" "))
    ).toDF("doc_id", "text")
    val r = withKey("zipf")(k => Corpus.zipfReport(docs, k).collect()).head
    assert(r.getLong(0) == 4L && r.getLong(1) == 15L)
    assert(math.abs(r.getDouble(2) + 1.4591) < 0.01, s"slope ${r.getDouble(2)}")
    assert(r.getDouble(3) == 1.0)
  }

  test("qualityTierReport bands at the fixed cuts and sums token mass per tier") {
    // quality = 0.4*min(n/64,1) + 0.3*ttr + 0.3*alpha. "a b" -> n=2,
    // ttr=1, alpha=2/3: q = 0.4*2/64 + 0.3 + 0.2 = 0.5125 (low).
    // "a a ... a" x64 -> n=64, ttr=1/64, alpha ~ 64/127: q ~ 0.5559
    // (low). A 64-token all-distinct alpha text -> q ~ 0.9976 (high).
    val allDistinct = (1 to 64).map(i => ('a' + (i % 26)).toChar.toString * 2)
      .zipWithIndex.map { case (s, i) => s + ('a' + (i / 26)).toChar }.mkString(" ")
    val docs = Seq(
      (1L, "a b"),
      (2L, Seq.fill(64)("a").mkString(" ")),
      (3L, allDistinct)
    ).toDF("doc_id", "text")
    val out = Corpus.qualityTierReport(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("1_low") == ((2L, 66L)), s"got $out")
    assert(out("3_high") == ((1L, 64L)), s"got $out")
    assert(!out.contains("2_mid"))
  }

  test("crossSourceDupMatrix normalizes cells and separates diagonal from cross-source") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, base, "srcB"), (2L, base, "srcA"),      // cross-source pair
      (3L, other, "srcA"), (4L, other, "srcA"),    // diagonal pair
      (5L, "completely unrelated filler tokens here now", "srcB")
    ).toDF("doc_id", "text", "source")
    val out = Corpus.crossSourceDupMatrix(docs, s"matrix_${System.nanoTime()}")
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getInt(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(("srcA", "srcB"), ("srcA", "srcA")))
    assert(out(("srcA", "srcB")) == ((1, 1.0)))
    assert(out(("srcA", "srcA")) == ((1, 1.0)))
  }

  test("dedupSpans with no duplicates reconstructs every document verbatim") {
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "h i j k")
    ).toDF("doc_id", "text")
    val out = Corpus.dedupSpans(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a b c d e f g")
    assert(out(2L) == "h i j k")
  }

  test("weighted sample always keeps the max-length doc at rate 1") {
    val docs = Seq(
      (1L, "en", 10L), (2L, "en", 500L), (3L, "fr", 500L), (4L, "fr", 20L)
    ).toDF("doc_id", "lang", "n_chars")
    // max-length docs (n_chars = 500): keep threshold = 10^6 > any hash
    val byLang = Corpus.weightedSample(docs, rate = 1.0).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(byLang("en")._1 >= 1 && byLang("fr")._1 >= 1)
    // kept_chars counts only kept docs' chars
    assert(byLang("en")._2 >= 500L && byLang("fr")._2 >= 500L)
  }

  test("mixtureSample caps rates at availability and zeroes unweighted sources") {
    // a: tiny corpus, huge weight -> rate capped at 1.0, everything kept;
    // b: weighted below availability -> partial rate; c: unweighted -> 0
    val docs = (
      Seq.tabulate(4)(i => (i.toLong, "a", Seq.fill(5)("w").mkString(" "))) ++
      Seq.tabulate(100)(i => (100L + i, "b", Seq.fill(10)("w").mkString(" "))) ++
      Seq.tabulate(4)(i => (300L + i, "c", "x y z"))
    ).toDF("doc_id", "source", "text")
    val out = Corpus.mixtureSample(docs,
      Map("a" -> 10.0, "b" -> 0.5), tokenBudget = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4), r.getLong(5), r.getLong(6)))
      .toMap
    val (aN, aAvail, aRate, aKeptD, aKeptT) = out("a")
    assert(aN == 4 && aAvail == 20 && aRate == 1.0 &&
      aKeptD == 4 && aKeptT == 20, s"capped source must keep all: ${out("a")}")
    val (_, bAvail, bRate, bKeptD, bKeptT) = out("b")
    assert(bAvail == 1000 && bRate == 0.05, s"partial rate wrong: ${out("b")}")
    assert(bKeptD < 100 && bKeptT == bKeptD * 10,
      "partial source must keep the hash draw, tokens consistent")
    val (_, _, cRate, cKeptD, _) = out("c")
    assert(cRate == 0.0 && cKeptD == 0,
      "unweighted source must contribute nothing")
  }

  test("leakageFreeSplit closure: auditing the cleaned corpus finds nothing") {
    // the fix must actually fix: drop the flagged train docs, re-run the
    // audit over what remains, and the leak report must be EMPTY. Pair
    // detection is per-doc-deterministic (signatures + banding), so any
    // pair present in the full corpus is present in the subset too —
    // emptiness is exact, not probabilistic.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val key = s"cps-lfs-${System.nanoTime()}"
    val verdicts = Corpus.leakageFreeSplit(docs, key).localCheckpoint()
    assert(verdicts.count() == docs.count(), "one verdict per doc")
    assert(verdicts.filter(col("dropped")).count() > 0,
      "fixture must contain at least one train->eval near-dup to drop")
    assert(verdicts.filter(col("dropped") && col("split") =!= "train")
      .count() == 0, "only train docs may be dropped")
    val cleaned = docs.join(
      verdicts.filter(!col("dropped")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val again = Corpus.leakageAudit(cleaned, s"$key-clean")
    assert(again.count() == 0,
      "auditing the leakage-free corpus must find no leaks")
    Scratch.releaseAll(spark)
  }

  test("snapshotDiff: identity is all-unchanged; statuses partition the id space") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // diff of a snapshot with itself: every verdict is 'unchanged'
    val self = Corpus.snapshotDiff(docs, docs)
    assert(self.filter(col("status") =!= "unchanged").count() == 0)
    assert(self.count() == docs.count())
    // a derived snapshot exercises all four statuses, and the verdict
    // frame covers old ∪ new ids exactly once
    val derived = docs.filter(col("doc_id") % 3 =!= 0)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" x"))).otherwise(col("text")))
      .unionAll(docs.limit(3).withColumn("doc_id", col("doc_id") + 9999999L))
    val diff = Corpus.snapshotDiff(docs, derived).localCheckpoint()
    val counts = diff.groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("added", "removed", "changed", "unchanged"))
    assert(counts("added") == 3)
    assert(counts.values.sum == diff.count())
    assert(diff.select(col("doc_id")).distinct().count() == diff.count(),
      "one verdict per id")
  }

  test("paddingWaste: token mass conserved, efficiency bounded by the window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val report = Corpus.paddingWaste(docs)
      .localCheckpoint()
    val agg = report.agg(
      sum(col("n_docs")), sum(col("total_tokens")), sum(col("trunc_loss")),
      sum(col("pad_waste"))).head()
    assert(agg.getLong(0) == docs.count(), "every doc lands in one bin")
    val corpusTokens = docs
      .agg(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    assert(agg.getLong(1) == corpusTokens, "token mass conserved")
    // kept + trunc = total, and kept + pad = docs * 512
    assert(agg.getLong(1) - agg.getLong(2) + agg.getLong(3)
      == agg.getLong(0) * 512L, "kept and pad tile the batch slots exactly")
    assert(report.filter(col("efficiency") > 1.0 || col("efficiency") < 0.0)
      .count() == 0, "efficiency is a ratio of slots")
  }

  test("bm25 retrieval shuffle regime: same relation as broadcast, no broadcast hint") {
    // the corpus-scale-query-side regime (Some(false)) must produce the
    // SAME ranked output as the broadcast default — the regime is a plan
    // choice, not a semantics choice — and with auto-broadcast disabled
    // its executed plan must contain no BroadcastExchange at all (an
    // explicit hint would force one even at threshold -1)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val queries = Seq(
      (0L, Seq("spark", "query", "join")),
      (1L, Seq("stream", "window", "batch"))).toDF("query_id", "terms")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSeq
    val broadcastRows = rows(Corpus.bm25Retrieval(docs, queries))
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = Corpus.bm25Retrieval(docs, queries,
        broadcastQueries = Some(false))
      assert(rows(shuffled) == broadcastRows,
        "shuffle regime must not change the ranked relation")
      val plan = shuffled.queryExecution.executedPlan.toString
      // the 1-row stats frame stays an (explicit, bounded) broadcast
      // cross join; the TOK joins — term prune, df, per-query fan-out —
      // must all be shuffle joins with no hash-broadcast anywhere
      assert(!plan.contains("BroadcastHashJoin"),
        s"shuffle regime still hash-broadcasts a tok join:\n${plan.take(1200)}")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "tok joins must shuffle under the forced regime")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) =>
          conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
      Scratch.releaseAll(spark)
    }
  }

  test("perplexityBuckets cuts balanced terciles ordered by score, dropping no doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = withKey("buckets")(k => Corpus.perplexityBuckets(docs, k).collect())
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val n = docs.count()
    assert(out.length == n, "every doc gets a bucket")
    val counts = out.groupBy(_._3).view.mapValues(_.length).toMap
    Seq("head", "middle", "tail").foreach { b =>
      val c = counts.getOrElse(b, 0)
      assert(math.abs(c - n / 3.0) <= 1.0, s"$b holds $c of $n — terciles must balance")
    }
    def scores(b: String) = out.filter(_._3 == b).map(_._2)
    assert(scores("head").max <= scores("middle").min,
      "head must score at or below middle")
    assert(scores("middle").max <= scores("tail").min,
      "middle must score at or below tail")
  }

  test("perplexityBuckets falls back to unigram-only for sub-2-token docs") {
    val docs = Seq(
      (1L, "aa"), (2L, "aa bb"), (3L, "aa bb cc"), (4L, "bb cc"),
      (5L, "cc dd ee"), (6L, "dd ee ff gg")
    ).toDF("doc_id", "text")
    val (out, uni) = withKey("fallback") { k =>
      (Corpus.perplexityBuckets(docs, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1),
        Corpus.unigramSurprisal(docs, k)
          .filter(col("doc_id") === 1L).collect()(0).getDouble(2))
    }
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      "the bigram-less doc must not be dropped by the left join")
    // doc 1 has no bigram: its score doubles the unigram component
    assert(math.abs(out.head._2 - 2 * uni) < 1e-9)
  }

  test("chunkRetrieval degenerates to document BM25 when chunks cover whole docs") {
    // chunkTokens >= every doc length -> one chunk per doc, chunk dl =
    // doc dl, N_chunks = N_docs: the chunk scorer must reproduce the
    // document scorer EXACTLY (same bm25, same ranking), pinning the
    // chunk-grain idf/length-norm bookkeeping to the proven q115 path
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val queries = Seq(
      (0L, Seq("spark", "query", "join")),
      (1L, Seq("sort", "merge", "shuffle"))).toDF("query_id", "terms")
    val maxLen = docs.select(max(size(
      graft.functions.TextAnalysis.tokens(col("text"))))).collect()(0).getInt(0)
    val chunked = Corpus.chunkRetrieval(docs, queries,
      chunkTokens = maxLen, topK = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5)))
    val whole = Corpus.bm25Retrieval(docs, queries).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
    assert(chunked.forall(_._4 == 0L), "every doc must be a single chunk")
    assert(chunked.map(t => (t._1, t._2, t._3, t._5, t._6)).toSeq ==
      whole.map(t => (t._1, t._2, t._3, t._4, t._5)).toSeq)
  }

  test("chunkRetrieval chunk ids stay inside each doc's chunk grid") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val queries = Seq((0L, Seq("spark", "query", "join"))).toDF("query_id", "terms")
    val nChunks = docs.select(col("doc_id"),
      ceil(size(graft.functions.TextAnalysis.tokens(col("text")))
        .cast("double") / 8.0).cast("long").as("nc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Corpus.chunkRetrieval(docs, queries, chunkTokens = 8, topK = 20)
      .collect().foreach { r =>
        val (doc, idx) = (r.getLong(2), r.getLong(3))
        assert(idx >= 0 && idx < nChunks(doc),
          s"chunk $idx out of range for doc $doc (${nChunks(doc)} chunks)")
      }
  }

  test("equiDepthHistogram balances bucket sizes and keeps bounds ordered") {
    val out = Relational.equiDepthHistogram(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    val n = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(out.map(_._1).toSeq == (0 until 10), "all buckets present, in order")
    assert(out.map(_._4).sum == n, "buckets partition the rows")
    out.foreach { case (b, lo, hi, rows) =>
      assert(lo <= hi)
      assert(math.abs(rows - n / 10.0) <= 1.0, s"bucket $b holds $rows of $n")
    }
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._2, s"bucket ${a._1} hi must not exceed bucket ${b._1} lo")
    case _ => }
  }

  test("vocabCoverage is monotone in k and saturates at 1.0 beyond the vocabulary") {
    val docs = Seq(
      (1L, "a a a a b b c"), (2L, "a b b d"), (3L, "a c d e")).toDF("doc_id", "text")
    val out = withKey("coverage")(k =>
      Corpus.vocabCoverage(docs, ks = Seq(1, 2, 5, 100), datasetKey = k).collect())
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    // counts: a=6, b=4, c=2, d=2, e=1 (15 total); rank: a, b, c, d, e
    assert(out.map(_._1).toSeq == Seq(1, 2, 5, 100))
    assert(out(0)._2 == math.rint(6.0 / 15.0 * 10000) / 10000)
    assert(out(1)._2 == math.rint(10.0 / 15.0 * 10000) / 10000)
    assert(out(2)._2 == 1.0, "k = vocab size covers everything")
    assert(out(3)._2 == 1.0, "k beyond the vocabulary still reports 1.0")
    assert(out.map(_._2).toSeq == out.map(_._2).sorted.toSeq, "monotone in k")
  }

  test("collocations rank a planted always-together pair top and floor rare pairs") {
    // "new york": 6 joint occurrences. Every other adjacent pair uses
    // per-doc-unique filler tokens, so it occurs exactly once and falls
    // under the minCount floor — only the planted pair survives
    val docs = (0 until 6).map(i =>
      (i.toLong, s"new york w${i}a w${i}b w${i}c")) :+
      (99L, "rare gem w99a w99b")
    val out = withKey("colloc")(k => Corpus.collocations(docs.toDF("doc_id", "text"),
      minCount = 5, topK = 5, datasetKey = k).collect())
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq("new york"),
      s"only the planted collocation survives the floor, got ${out.toSeq}")
    assert(out.head._2 == 6L)
    // PMI is positive: the pair co-occurs far beyond independence
    assert(out.head._3 > 0.0)
  }

  test("curriculumEpochs is the exclusive merit-order prefix sum cut at the epoch budget") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = Corpus.curriculumEpochs(docs, epochTokens = 1024L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // reconstruct locally: sort by (quality desc, doc_id), exclusive cumsum
    val scored = docs.select(col("doc_id"),
      graft.functions.TextAnalysis.tokenCount(col("text")).as("n"),
      graft.functions.TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    var off = 0L
    val expected = scored.sortBy { case (id, _, q) => (-q, id) }.map { case (id, n, _) =>
      val row = (id, n, (off / 1024L).toInt)
      off += n
      row
    }.sortBy(_._1).toSeq
    assert(got.toSeq == expected,
      "epoch assignment must equal the local merit-order prefix sum")
    // best-quality docs land in epoch 0; epochs are contiguous from 0
    val epochs = got.map(_._3).distinct.sorted.toSeq
    assert(epochs.head == 0 && epochs == (0 to epochs.max))
    val topDoc = scored.minBy { case (id, _, q) => (-q, id) }._1
    assert(got.find(_._1 == topDoc).get._3 == 0)
  }
}
