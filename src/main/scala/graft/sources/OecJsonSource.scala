package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the reference's wire format: a JSON object
  * with a `data` key holding flat records — exactly what the olap-proxy
  * returns (`oec.py:22`, `oec.py:43`, `oec.py:63`; FIXTURES.md §B).
  *
  *   spark.read.format("oecjson").load("/path/to/responses")
  *   spark.read.format("oecjson")
  *     .option("endpoint", "file:/path/to/responses").load()
  *
  * Reproduces the client-side semantics at the source boundary:
  *   - column names are normalized `replace(' ','_').lower()` (the
  *     reference applies this to every response, `oec.py:24`/`oec.py:64`)
  *   - schema is inferred from record values (long / double / string),
  *     widened across sampled records — the dynamic-schema model of §1.2
  *
  * '''Transport seam (`endpoint=`).''' The reference's actual I/O is a
  * live HTTP GET against a base URL (`requests.get(base_url, params)`,
  * `oec.py:62`; members fetch `oec.py:21`). Both transports are
  * first-class and share every layer above the byte stream — partition
  * planning, schema inference, pruning, and filter pushdown are
  * transport-agnostic (one response = one partition either way):
  *   - `endpoint=file:/dir` (or a bare directory/file path) — reads
  *     captured wire responses, identical semantics to `path=`. Capture
  *     is exactly `curl "$BASE_URL?cube=...&drilldowns=..." >
  *     resp.json` — the `{"data":[...]}` body is what this source parses.
  *   - `endpoint=http(s)://host/path` — live transport: each partition
  *     GETs its URL and streams the response body through the same
  *     parser (JDK `HttpURLConnection`, 30 s timeouts, non-200 is a
  *     reader error naming the URL). The optional `queries` option
  *     (`;`-separated query strings, the `util.py` wire grammar) fans
  *     one base URL into one partition per query — the reference's
  *     one-GET-per-query model (`oec.py:62`) distributed across
  *     executors. Exercised end-to-end against an in-process HTTP
  *     double in OecJsonHttpSpec (this build has no external egress).
  *
  * Scale design: one input partition per response file (responses are
  * independent API results; parallelism = file count), column pruning via
  * SupportsPushDownRequiredColumns so projected queries deserialize only
  * requested fields. Each reader streams its own file; no driver-side
  * parsing except schema inference over a bounded sample of each file.
  */
class OecJsonSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "oecjson"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = OecJsonSource.listFiles(options)
    require(files.nonEmpty, "oecjson: no .json files under 'path'")
    val maxFiles = Option(options.get("inferfiles"))
      .map(_.toInt).getOrElse(OecJsonSource.DefaultInferFiles)
    OecJsonSource.inferFromFiles(files, maxFiles = maxFiles)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OecJsonTable(schema,
      new CaseInsensitiveStringMap(properties))
}

object OecJsonSource {
  private val mapper = new ObjectMapper()

  /** Resolve the transport option to a source root: a local path, or a
    * live http(s) base URL — `endpoint=` is the documented seam for the
    * reference's HTTP transport (`oec.py:62`).
    */
  def resolvePath(options: CaseInsensitiveStringMap): String = {
    val endpoint = Option(options.get("endpoint"))
    val path = Option(options.get("path"))
    (endpoint, path) match {
      case (Some(e), _) if isHttp(e) => e
      case (Some(e), _) if e.startsWith("file:") =>
        java.nio.file.Paths.get(java.net.URI.create(e)).toString
      case (Some(e), _) => e
      case (None, Some(p)) => p
      case (None, None) =>
        throw new IllegalArgumentException(
          "oecjson requires a path (load(dir)) or an endpoint= option")
    }
  }

  private[sources] def isHttp(s: String): Boolean =
    s.startsWith("http://") || s.startsWith("https://")

  /** Plan-time source list — one response = one input partition. File
    * roots list their `.json` captures; a live http(s) endpoint is one
    * response by itself, or — with the `queries` option (`;`-separated
    * query strings in the `util.py` wire grammar, e.g.
    * `cube=trade&drilldowns=Year;cube=trade&drilldowns=Nation`) — one
    * response per query string, the reference's one-GET-per-query model
    * (`oec.py:62`) fanned across executors.
    */
  def listFiles(options: CaseInsensitiveStringMap): Seq[String] = {
    val path = resolvePath(options)
    if (isHttp(path)) {
      Option(options.get("queries")) match {
        case Some(qs) =>
          val sep = if (path.contains("?")) "&" else "?"
          qs.split(';').toSeq.map(_.trim).filter(_.nonEmpty)
            .map(q => s"$path$sep$q")
        case None => Seq(path)
      }
    } else {
      val f = new java.io.File(path)
      val all =
        if (f.isDirectory) f.listFiles().toSeq.map(_.getPath)
        else Seq(path)
      all.filter(_.endsWith(".json")).sorted
    }
  }

  /** Open a source's byte stream: file handle, or a streaming HTTP GET
    * (the parser's AUTO_CLOSE_SOURCE closes whichever on stream close —
    * early-terminating scans release the connection, not just the
    * handle). Non-200 responses fail the read NAMING the URL and code;
    * wire-contract violations downstream name the URL the same way.
    */
  private[sources] def openSource(source: String): java.io.InputStream =
    if (isHttp(source)) {
      val conn = new java.net.URL(source).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(30000)
      conn.setReadTimeout(30000)
      conn.setRequestProperty("Accept", "application/json")
      val code = conn.getResponseCode
      if (code != 200) {
        Option(conn.getErrorStream).foreach(_.close())
        conn.disconnect()
        throw new java.io.IOException(
          s"oecjson: GET $source returned HTTP $code (wire contract " +
            "expects a 200 {\"data\":[...]} body, oec.py:62)")
      }
      conn.getInputStream
    } else new java.io.FileInputStream(source)

  /** All records of a response, streamed. The stream owns an open file
    * handle — callers that may stop early (limit/take scans) must
    * [[RecordStream.close]] it; full drains self-close.
    */
  def records(file: String): RecordStream = new RecordStream(file, Int.MaxValue)

  /** The first `limit` records of a response via a STREAMING JsonParser —
    * never materializes the file's tree. This is what bounds plan-time
    * inference cost: `readTree` would parse every byte of every response
    * before `take(n)` could drop anything, so sampling a 1 GB response
    * would cost 1 GB of driver parse; the streaming parser stops after
    * the limit-th record subtree. The execution path ([[records]]) is the
    * same iterator unbounded — one record in memory at a time per reader.
    */
  def sampleRecords(file: String, limit: Int): RecordStream =
    new RecordStream(file, limit)

  /** Streaming iterator over a response's `data` records that OWNS its
    * JsonParser (and with it the file handle). It self-closes when
    * drained or when the sample limit is reached, closes on any header
    * failure (a malformed file must not leak the handle), and exposes
    * [[close]] for early-terminating consumers — the DSv2 reader wires
    * it to `PartitionReader.close()` so a `limit(1)` scan releases the
    * file immediately instead of waiting for GC.
    */
  final class RecordStream private[sources] (file: String, limit: Int)
      extends Iterator[JsonNode] with AutoCloseable {
    import com.fasterxml.jackson.core.JsonToken

    private val p = mapper.getFactory.createParser(OecJsonSource.openSource(file))
    private var closed = false

    override def close(): Unit = if (!closed) { closed = true; p.close() }

    // advance to the 'data' array; any failure here closes the parser
    try {
      require(p.nextToken() == JsonToken.START_OBJECT,
        s"oecjson: $file is not a JSON object (wire contract, oec.py:22)")
      var dataFound = false
      var done = false
      while (!done && !dataFound) {
        p.nextToken() match {
          case JsonToken.FIELD_NAME =>
            val isData = p.currentName == "data"
            p.nextToken() // move onto the field's value
            if (isData) {
              require(p.currentToken == JsonToken.START_ARRAY,
                s"oecjson: $file has no 'data' array (wire contract, oec.py:22)")
              dataFound = true
            } else p.skipChildren() // skip other top-level values wholesale
          case JsonToken.END_OBJECT | null => done = true
          case _ => ()
        }
      }
      require(dataFound,
        s"oecjson: $file has no 'data' array (wire contract, oec.py:22)")
    } catch { case e: Throwable => close(); throw e }

    private var count = 0
    private var cur: JsonNode = advance()

    private def advance(): JsonNode =
      if (closed || count >= limit) { close(); null }
      else p.nextToken() match {
        case JsonToken.END_ARRAY | null => close(); null
        case _ =>
          count += 1
          mapper.readTree[JsonNode](p)
      }

    override def hasNext: Boolean = cur != null
    override def next(): JsonNode = {
      if (cur == null)
        throw new NoSuchElementException(s"oecjson: $file record stream exhausted")
      val r = cur
      cur = advance()
      r
    }
  }

  /** Default plan-time inference cap: files opened before deciding the
    * endpoint is type-homogeneous. Overridable per-read with the
    * `inferFiles` option; callers with a known schema skip inference
    * entirely via `.schema(...)` (supportsExternalMetadata).
    */
  val DefaultInferFiles = 16

  /** Plan-time file opens performed by [[inferFromFiles]] since the last
    * reset — a test hook so the inference cap is assertable (bounded
    * opens over a large endpoint directory), not just narrated.
    */
  private[sources] val inferOpens = new java.util.concurrent.atomic.AtomicLong

  /** Widening inference: long < double < string, widened across a bounded
    * sample of response files — responses are independent API results, so
    * one all-integral response must not pin a column another response
    * stores fractionally (`{"v":1}` then `{"v":1.5}` infers double, not
    * long). Cost is bounded on BOTH axes: `perFileSample` records per
    * file ([[sampleRecords]] streams and stops — it does not parse the
    * rest of the response) and `maxFiles` files per endpoint. A capture
    * directory can hold 10^5 responses; opening every one at plan time
    * made planning O(#files), so only the first `maxFiles` are sampled —
    * UNLESS that sample itself demonstrates heterogeneity (any column
    * widened across it), in which case the schema is evidently unstable
    * and inference falls back to sampling every remaining file rather
    * than pinning a type the tail may widen further. The residual trade
    * is explicit: a column whose first `maxFiles` files agree but whose
    * tail diverges (or a column appearing only in the tail) is missed —
    * the cap is a read option (`inferFiles`) for endpoints known to be
    * heterogeneous, and `.schema(...)` bypasses inference entirely.
    */
  def inferFromFiles(
      files: Seq[String],
      perFileSample: Int = 1000,
      maxFiles: Int = DefaultInferFiles): StructType = {
    val norm = graft.cube.Normalize.norm _
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    var conflicted = false
    def sampleFile(file: String): Unit = {
      inferOpens.incrementAndGet()
      val stream = sampleRecords(file, perFileSample)
      try stream.foreach { rec =>
        rec.fields().asScala.foreach { e =>
          val dt: DataType =
            if (e.getValue.isIntegralNumber) LongType
            else if (e.getValue.isNumber) DoubleType
            else StringType
          val name = norm(e.getKey)
          fields.get(name) match {
            case None => fields(name) = dt
            case Some(prev) =>
              val w = widen(prev, dt)
              if (w != prev) conflicted = true
              fields(name) = w
          }
        }
      } finally stream.close()
    }
    val (head, tail) = files.splitAt(maxFiles)
    head.foreach(sampleFile)
    if (conflicted) tail.foreach(sampleFile)
    else if (tail.nonEmpty)
      // The residual risk documented above is now also OBSERVABLE: when
      // the cap truncates sampling with a conflict-free head, say so once
      // — a tail-only column or late widening is invisible in the plan,
      // and a silent cap reads as "inferred from everything" when it
      // wasn't. (A conflicted head already samples every file.)
      System.err.println(
        s"[oecjson] schema inferred from the first $maxFiles of " +
          s"${files.size} files (conflict-free sample; tail not opened). " +
          "A column appearing or widening only in the tail is missed — " +
          "raise the `inferFiles` read option or pass .schema(...) " +
          "for heterogeneous endpoints.")
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) }.toSeq)
  }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case _ => StringType
  }
}

class OecJsonTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  // raw path-or-endpoint (not resolvePath: name() must never throw, and
  // the user-facing plan should echo what the user typed)
  override def name(): String = {
    val src = Option(options.get("path"))
      .orElse(Option(options.get("endpoint"))).getOrElse("?")
    s"oecjson($src)"
  }
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new OecJsonScanBuilder(schema, options)
}

class OecJsonScanBuilder(full: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Claim the comparison/membership filters the reader can evaluate
    * during parse (cuts are exactly these — `oec.py:45-48`); anything
    * else stays with Spark. Claimed filters skip records BEFORE row
    * materialization, so a cut-selective response file costs its parse,
    * not its row construction.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    val (supported, rest) = filters.partition(OecJsonFilters.supports)
    pushed = supported
    rest
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    // surfaces the claimed filters in .explain, like FileScan does
    override def description(): String =
      s"oecjson PushedFilters: [${pushed.mkString(", ")}], " +
        s"ReadSchema: ${required.catalogString}"
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      OecJsonSource.listFiles(options)
        .map(f => OecJsonPartition(f): InputPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new OecJsonReaderFactory(required, pushed)
  }
}

/** Pushed-filter evaluation against the RAW wire record — once a filter
  * is claimed, Spark may prune its column out of the projection, so it
  * cannot be evaluated on the output row.
  */
object OecJsonFilters {
  import org.apache.spark.sql.sources._

  def supports(f: Filter): Boolean = f match {
    case _: EqualTo | _: In | _: IsNotNull | _: IsNull | _: GreaterThan |
        _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual => true
    case _ => false
  }

  def eval(f: Filter, rec: JsonNode): Boolean = {
    def node(attr: String): Option[JsonNode] =
      rec.fields().asScala
        .find(e => graft.cube.Normalize.norm(e.getKey) == attr)
        .map(_.getValue).filterNot(_.isNull)
    def text(n: JsonNode): String = if (n.isTextual) n.asText() else n.toString
    // Claimed filters are NOT re-evaluated by Spark, so comparisons must
    // be exact: integral/integral pairs compare as longs (doubles lose
    // precision above 2^53 and would silently match/miss wrong rows);
    // only genuinely fractional comparisons go through double.
    def isIntegral(v: Number): Boolean = v match {
      case _: java.lang.Long | _: Integer | _: java.lang.Short |
          _: java.lang.Byte => true
      case bd: java.math.BigDecimal => bd.scale <= 0
      case bi: java.math.BigInteger => bi != null
      case _ => false
    }
    def longOf(v: Number): Long = v match {
      case bd: java.math.BigDecimal => bd.longValueExact()
      case n => n.longValue()
    }
    def cmp(attr: String, v: Any): Option[Int] = node(attr).map { n =>
      v match {
        case num: Number if n.isIntegralNumber && isIntegral(num) =>
          java.lang.Long.compare(n.asLong(), longOf(num))
        case num: Number =>
          java.lang.Double.compare(n.asDouble(), num.doubleValue())
        case s: String => text(n).compareTo(s)
        case other => text(n).compareTo(other.toString)
      }
    }
    f match {
      case IsNotNull(a) => node(a).isDefined
      case IsNull(a) => node(a).isEmpty
      case EqualTo(a, v) => cmp(a, v).contains(0)
      case In(a, vs) => vs.exists(v => cmp(a, v).contains(0))
      case GreaterThan(a, v) => cmp(a, v).exists(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v).exists(_ >= 0)
      case LessThan(a, v) => cmp(a, v).exists(_ < 0)
      case LessThanOrEqual(a, v) => cmp(a, v).exists(_ <= 0)
      case _ => true
    }
  }
}

case class OecJsonPartition(file: String) extends InputPartition

class OecJsonReaderFactory(schema: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new OecJsonReader(p.asInstanceOf[OecJsonPartition].file, schema, pushed)
}

class OecJsonReader(file: String, schema: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter])
    extends PartitionReader[InternalRow] {

  // original wire key per normalized field name (records carry raw keys);
  // pushed filters run on the raw record, before row materialization.
  // The stream owns the file handle: close() below releases it when the
  // scan terminates early (limit/take) instead of leaking it until GC.
  private val stream = OecJsonSource.records(file)
  private val it = stream
    .filter(rec => pushed.forall(OecJsonFilters.eval(_, rec)))
  private var current: JsonNode = _

  override def next(): Boolean = {
    if (it.hasNext) { current = it.next(); true } else false
  }

  override def get(): InternalRow = {
    val values = schema.fields.map { f =>
      // match raw key by normalization (the source normalizes names)
      val node = current.fields().asScala
        .find(e => graft.cube.Normalize.norm(e.getKey) == f.name)
        .map(_.getValue).orNull
      if (node == null || node.isNull) null
      else f.dataType match {
        case LongType => java.lang.Long.valueOf(node.asLong())
        case DoubleType => java.lang.Double.valueOf(node.asDouble())
        case _ => UTF8String.fromString(
          if (node.isTextual) node.asText() else node.toString)
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def close(): Unit = stream.close()
}
