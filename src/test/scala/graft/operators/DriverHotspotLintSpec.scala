package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the three driver-side anti-patterns a scale review
  * hunts by hand: `.collect()` (driver materialization), `crossJoin`
  * without an inline `broadcast(...)` argument, and `.rdd` (leaving the
  * declarative plan). Every existing site has been audited (driver-sized
  * model state, bounded grids, or LogicalRDD bookkeeping — see the
  * per-file notes below); this spec pins the audited COUNT per file, so
  * a new site anywhere fails CI and must either justify a ceiling bump
  * here or use the scalable form. Ceilings are exact, not upper bounds —
  * a removed site must lower its ceiling, keeping the map current. The
  * same ceilings keep `TrieMap` registries inside `Scratch`, the one
  * owner of session state.
  */
class DriverHotspotLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = sourcesUnder(root)

  private def sourcesUnder(tree: Path): Seq[Path] =
    Files.walk(tree).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  private def countIn(p: Path, pattern: String): Int =
    pattern.r.findAllIn(Files.readString(p)).size

  private def assertCeilings(what: String, pattern: String,
      audited: Map[String, Int], under: Seq[String] = Seq(""),
      tree: Path = root): Unit = {
    val got = sourcesUnder(tree).map(p => tree.relativize(p).toString -> countIn(p, pattern))
      .filter { case (f, n) => n > 0 && under.exists(f.startsWith) }.toMap
    val unexpected = got.filterNot { case (f, n) => audited.get(f).contains(n) }
    val stale = audited.filterNot { case (f, n) => got.get(f).contains(n) }
    assert(unexpected.isEmpty && stale.isEmpty,
      s"$what sites drifted from the audited map.\n" +
        s"  found-but-not-audited-at-that-count: $unexpected\n" +
        s"  audited-but-not-found-at-that-count: $stale\n" +
        "New driver-side sites need a scalable rewrite or a conscious " +
        "ceiling bump WITH a justification note here.")
  }

  test("collect() stays confined to audited driver-sized model state") {
    assertCeilings("collect()", """\.collect\(\)""", Map(
      // 25-row fixture capture for the q97 batch query set
      "graft/SparkEntry.scala" -> 1,
      // 1-row aggregate: corpus-wide signature count
      "graft/operators/Dedup.scala" -> 1,
      // q283 Markov transition matrix: <= #event-types² exact-count
      // cells (require-guarded <= 65536) — model-state-sized by
      // construction; the 12-step power iteration is driver arithmetic
      // instead of 12 scheduled shuffle rounds
      "graft/operators/EventAnalytics.scala" -> 1,
      // <= 25-brand key list probing the driver-held CMS (q301 —
      // sketch + key list are model-state-sized by construction)
      "graft/operators/Relational.scala" -> 1,
      // k-means training sample (<= maxSample rows), trained centroids
      // (IVF cells and PQ codebooks, k x dim — model state), the one
      // 1-row query-vector fetch of the single-query operators, plus
      // q309's eval-suite fetch (bounded benchmark set by contract,
      // require-guarded <= 1e6, broadcast to the decontam max-dot kernel)
      "graft/operators/Similarity.scala" -> 4,
      // 1-row aggregate: the q109 watermark cutoff
      "graft/streaming/EventsStream.scala" -> 1))
  }

  test("crossJoin without inline broadcast stays confined to audited bounded frames") {
    // crossJoin(broadcast(...)) is the sanctioned 1-row/bounded-total
    // pattern; count only the remainder
    val pat = """\.crossJoin\((?!broadcast)"""
    assertCeilings("non-broadcast crossJoin", pat, Map(
      // pre-broadcast val: bruteForceTopK's 1-row query frame
      "graft/operators/Similarity.scala" -> 1,
      // bounded event-type distinct against the <= #bins frame (q270)
      "graft/operators/EventAnalytics.scala" -> 1))
  }

  test(".rdd access stays confined to LogicalRDD checkpoint bookkeeping") {
    assertCeilings(".rdd", """\.rdd\b""", Map(
      // localCheckpoint block-release plumbing (ids, unpersist) plus
      // stageShared's reliable-mode persist of the checkpointed RDD —
      // never a data path
      "graft/operators/Scratch.scala" -> 2))
  }

  test("no eager partition-count probe at DataFrame construction") {
    // `queryExecution.toRdd` plans the query physically at construction
    // time and, over an upstream shuffle, runs a throwaway job; input
    // width is the width rule's decision (Par.WidenHeavyStages), made at
    // planning time without a job
    assertCeilings("queryExecution.toRdd", """queryExecution\s*\.\s*toRdd""",
      Map.empty)
  }

  test("streams start at the one drain") {
    // every streaming query runs through EventsStream.drain, which owns
    // the checkpoint, resume, state-conf and clean-up steps; a second
    // writer restates that lifecycle
    assertCeilings("writeStream", """\bwriteStream\b""", Map(
      "graft/streaming/EventsStream.scala" -> 1))
  }

  test("no engine code sets a graft session conf key") {
    // operators hand values to each other as values, never through a
    // session-conf side channel, and no setting restates another (the
    // checkpoint mode is the checkpoint dir, not a flag beside it)
    assertCeilings("""conf.set("spark.graft.""", """conf\.set\("spark\.graft\.""",
      Map.empty)
  }

  test("graft knobs are not parsed from strings") {
    // a `spark.graft.*` conf read or a `SPARK_GRAFT_*` environment read
    // followed, in the same expression, by a string-to-number/boolean
    // parse; the one audited site is the SPARK_GRAFT_CPUS thread count
    assertCeilings("graft knob parse",
      """(?:conf|env)\s*\.\s*get\w*\(\s*"(?:spark\.graft\.|SPARK_GRAFT_)""" +
        """[^"]*"[^)]*\)(?:[^\n]|\n\s*\.)*?\.to(?:Int|Long|Boolean|Double)\b""",
      Map("graft/GraftSession.scala" -> 1))
  }

  test("README's knob list names exactly the knobs src/main reads") {
    val knob = """spark\.graft\.[A-Za-z.]*[A-Za-z]|SPARK_GRAFT_[A-Z_]*[A-Z]"""
    val read = sources.flatMap(p =>
      s""""($knob)"""".r.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    val readme = Files.readString(Paths.get("README.md"))
    val section = readme.split("\n## ").find(_.startsWith("Operational knobs"))
    assert(section.isDefined, "README has no \"Operational knobs\" section")
    val named = knob.r.findAllIn(section.get).toSet
    assert(named == read,
      s"\n  read in src/main but not in README: ${read -- named}" +
        s"\n  in README but not read in src/main: ${named -- read}")
  }

  test("operator defaulted parameters stay at the audited count") {
    // a defaulted parameter is a setting; in the operator layer one
    // exists only where some caller (a query, a test, the benchmark)
    // passes it a value other than the default. A tunable nobody varies
    // is a constant of its operator object or a local val, so a new
    // default needs a caller that varies it and a bump here
    assertCeilings("defaulted parameter",
      """[(,]\s*\w+\s*:\s*(?:[\w.\s]|\[[^\[\]]*(?:\[[^\[\]]*\][^\[\]]*)*\]|""" +
        """\([^()]*\)|=>)+?\s*=(?![=>])""",
      Map(
        "graft/operators/Corpus.scala" -> 18,
        "graft/operators/Dedup.scala" -> 8,
        "graft/operators/Fuzzy.scala" -> 1,
        "graft/operators/Graph.scala" -> 1,
        "graft/operators/Ranks.scala" -> 1,
        // Relational.dollars' rounding digits: Quality's mean drift keeps 6
        "graft/operators/Relational.scala" -> 2,
        "graft/operators/Similarity.scala" -> 34,
        "graft/operators/Skew.scala" -> 1),
      under = Seq("graft/operators/", "graft/streaming/", "graft/multimodal/"))
  }

  test("exact-cents money is spelled once, in Relational.cents") {
    // the Scala spelling `round(x * 100, 0)` outside oracle SQL (whose
    // stripMargin lines start with `|`); every money sum goes through
    // the one helper
    assertCeilings("cents spelling", """(?m)^(?!\s*\|).*\* 100, 0\)""",
      Map("graft/operators/Relational.scala" -> 1))
  }

  test("cents go back to rounded dollars once, in Relational.dollars") {
    // `round(<cents> / 100.0, <digits>)` (or `/ 100`) outside oracle SQL
    assertCeilings("dollars spelling", """(?m)^(?!\s*\|).*/ 100(?:\.0)?,\s*\w+\)""",
      Map("graft/operators/Relational.scala" -> 1))
  }

  test("star-schema foreign-key joins are spelled only where the graph does not fit") {
    // the TPC-H star is read through Engine.joined along the trade cube's
    // declared graph; a hand-written key equality is a join the graph
    // cannot express
    val key = "(?:l_orderkey|o_orderkey|o_custkey|c_custkey|c_nationkey|" +
      "n_nationkey|n_regionkey|r_regionkey|l_partkey|p_partkey|l_suppkey|" +
      "s_suppkey|s_nationkey)"
    assertCeilings("foreign-key equality", s"""col\\("$key"\\) === col\\("$key"\\)""",
      Map(
        // semi, anti and left joins; the broadcast customer (qoqGrowth),
        // supplier (importantSuppliers, blockingSuppliers, tradeBalance)
        // and part (withBrand); the supplier's nation under the nation's
        // own column names; the bucketed catalog tables; and joins onto
        // derived frames
        "graft/operators/Relational.scala" -> 28,
        // the FK audit's two anti joins and the reconciliation's left join
        // onto the per-order line rollup
        "graft/operators/Quality.scala" -> 3))
  }

  test("no scaladoc sits stacked on another one") {
    // a doc comment directly followed by another documents nothing: the
    // first belongs on some other definition
    assertCeilings("stacked scaladoc", """\*/[ \t]*\n[ \t]*/\*\*""", Map.empty)
  }

  test("tests make temp directories only through SparkFunSuite.withTempDir") {
    // the helper deletes the tree when the test ends, also on failure
    assertCeilings("createTempDirectory", """createTempDirectory\(""",
      Map("graft/SparkTestBase.scala" -> 1), tree = Paths.get("src/test/scala"))
  }

  test("NTZ calendar buckets are spelled once, in Relational.ntzBucket") {
    // `date_trunc(...)` directly followed by `.cast(TimestampNTZType)`
    assertCeilings("NTZ calendar bucket",
      """date_trunc\((?:[^()]|\([^()]*(?:\([^()]*\))?[^()]*\))*\)\s*""" +
        """\.cast\(\s*(?:org\.apache\.spark\.sql\.types\.)?""" +
        """TimestampNTZType\s*\)""",
      Map(
        // the helper
        "graft/operators/Relational.scala" -> 1,
        // the events cube's day and hour levels: the cube layer does not
        // depend on the operator layer
        "graft/cube/CubeCatalog.scala" -> 2))
  }

  test("the single-space word split is spelled once, in Corpus.words") {
    // `split(<text>, " ")`; TextAnalysis.tokens' trimmed `\s+` split is
    // the other tokenizer and a different pattern
    assertCeilings("single-space split",
      """\bsplit\((?:[^()]|\([^()]*(?:\([^()]*\))?[^()]*\))*,\s*" "\)""",
      Map("graft/operators/Corpus.scala" -> 1),
      under = Seq("graft/operators/Corpus.scala"))
  }

  test("the shared text frames take a required dataset key") {
    // every memoized corpus and dedup frame is keyed; an optional key
    // would restore the un-keyed per-call path no registered query takes
    assertCeilings("optional datasetKey", """datasetKey\s*:\s*Option\b""",
      Map.empty, under = Seq("graft/operators/"))
  }

  test("epoch microseconds are spelled once, in Relational.micros") {
    // `unix_micros(` outside the oracle SQL in SparkEntry; every
    // event-time difference goes through micros / elapsed / whole
    assertCeilings("unix_micros", """unix_micros\(""",
      Map("graft/operators/Relational.scala" -> 1),
      under = Seq("graft/operators/", "graft/streaming/"))
  }

  test("the per-user (ts, event_id) order is spelled once, in EventAnalytics.timeline") {
    assertCeilings("(ts, event_id) order",
      """orderBy\(col\("ts"\), col\("event_id"\)\)""",
      Map("graft/operators/EventAnalytics.scala" -> 1,
        // the fixture splitter's one global order, not a per-user timeline
        "graft/SplitFixture.scala" -> 1))
  }

  test("the 30-minute session gap is spelled once, in EventAnalytics.SessionGap") {
    // the lag form's INTERVAL and session_window's duration string;
    // the oracle SQL in SparkEntry keeps its own text
    assertCeilings("30-minute gap", """(?i)(?:"|INTERVAL )30 minutes""",
      Map("graft/operators/EventAnalytics.scala" -> 1),
      under = Seq("graft/operators/", "graft/streaming/"))
  }

  test("TrieMap registries stay confined to Scratch and the schema memo") {
    // Scratch owns all session-scoped state (scratch ids, session memos,
    // memo counts); a hand-made registry elsewhere duplicates its
    // release and prune logic
    assertCeilings("TrieMap", """\bTrieMap\b""", Map(
      // import + scope ids + session memos + owned trees + memo counts,
      // and a comment
      "graft/operators/Scratch.scala" -> 6,
      // JVM-lifetime schema cache keyed by path+mtime; holds no blocks
      "graft/cube/Engine.scala" -> 1))
  }
}
