package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonGenerator}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.api.Oec
import graft.cube.{CubeQuery, Engine}
import graft.operators.{Corpus, Dedup, Scratch, Similarity}
import graft.sources.Sink

/** The benchmark's JVM side: one client thread driving the engine's
  * public functions in a closed loop from a spec that `run.py`
  * generated. Usage:
  *
  *   Harness <spec.json> <out-dir>     run one workload
  *   Harness --dump-oracle <out.json>  write SparkEntry.oracleSql
  *
  * Every operation is timed from this file, around the call into the
  * layer's public function: construct (call -> DataFrame), plan (forcing
  * the executed plan; traced runs only), exec (collecting the result in
  * full) and scratch.release. Results are held in memory and written
  * after the timed section for the oracle check.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    if (args(0) == "--dump-oracle") {
      mapper.writeValue(new File(args(1)), SparkEntry.oracleSql.asJava)
      return
    }
    val spec = mapper.readTree(new File(args(0)))
    val out = new File(args(1))
    out.mkdirs()
    val workload = spec.get("workload").asText
    val cpus = spec.get("cpus").asInt
    val seconds = spec.get("seconds").asDouble
    val traced = spec.get("trace").asBoolean
    val repeats = spec.get("setup_repeats").asInt

    // Set-up: build the session several times (the median is reported;
    // the first build also pays JVM start-up) and keep the last one, then
    // warm it once with the workload's own paths on the small fixture so
    // the timed section does not pay first-use class loading and JIT.
    val builds = (0 until repeats).map { i =>
      val t0 = System.nanoTime()
      val s = GraftSession.local(cpus)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < repeats - 1) s.stop()
      dt
    }
    val spark = SparkSession.active
    val w0 = System.nanoTime()
    val warm = new Run(spark, new Tracer(false), None)
    workload match {
      case "cube_interactive" =>
        Cube.rounds(warm, spec.get("warm_dir").asText, spec.get("warm_calls"), 0, Double.MaxValue)
      case "operator_pipeline" => Pipeline.round(warm, spec, warmUp = true, 0)
    }
    val warmS = (System.nanoTime() - w0) / 1e9

    val listener = if (traced) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val run = new Run(spark, new Tracer(traced), listener)
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    workload match {
      case "cube_interactive" => Cube.rounds(run, spec.get("data_dir").asText, spec.get("calls"),
        deadline, spec.get("round_size").asDouble)
      case "operator_pipeline" =>
        var r = 0
        while (r == 0 || System.nanoTime() < deadline) {
          Pipeline.round(run, spec, warmUp = false, r)
          r += 1
        }
    }
    val gcS = gcSeconds() - gc0
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 30000L))

    run.writeResults(new File(out, "results.jsonl"))
    writeSummary(new File(out, "summary.json"), spark, run, builds, warmS, gcS)
    spark.stop()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private def peakRssMb(): Double =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  private def writeSummary(f: File, spark: SparkSession, run: Run,
      builds: Seq[Double], warmS: Double, gcS: Double): Unit = {
    val g = new JsonFactory().createGenerator(f, JsonEncoding.UTF8)
    g.writeStartObject()
    g.writeArrayFieldStart("build_s")
    builds.foreach(g.writeNumber)
    g.writeEndArray()
    g.writeNumberField("warmup_s", warmS)
    g.writeNumberField("gc_s", gcS)
    g.writeNumberField("peak_rss_mb", peakRssMb())
    g.writeNumberField("released", run.released)
    g.writeArrayFieldStart("ops")
    run.records.foreach { r =>
      g.writeStartObject()
      g.writeNumberField("id", r.id); g.writeNumberField("round", r.round)
      g.writeStringField("kind", r.kind); g.writeStringField("name", r.name)
      g.writeNumberField("start_s", r.startNs / 1e9); g.writeNumberField("latency_s", r.latencyS)
      g.writeNumberField("rows", r.rows)
      r.error.foreach(e => g.writeStringField("error", e))
      g.writeEndObject()
    }
    g.writeEndArray()
    g.writeArrayFieldStart("rounds")
    run.rounds.foreach { case (i, s) =>
      g.writeStartObject(); g.writeNumberField("round", i)
      g.writeNumberField("wall_s", s); g.writeEndObject()
    }
    g.writeEndArray()
    g.writeObjectFieldStart("round_info")
    run.roundInfo.foreach { case (k, v) => g.writeNumberField(k, v) }
    g.writeEndObject()
    g.writeArrayFieldStart("spans")
    run.tracer.spans.foreach { s =>
      g.writeStartArray()
      g.writeNumber(s.id); g.writeNumber(s.parent); g.writeNumber(s.op)
      g.writeString(s.name); g.writeNumber(s.startNs / 1e9); g.writeNumber(s.endNs / 1e9)
      g.writeEndArray()
    }
    g.writeEndArray()
    run.listener.foreach { l =>
      g.writeNumberField("unattributed_jobs", l.unattributedJobs)
      g.writeArrayFieldStart("phase_stats")
      l.stats.toSeq.sortBy(_._1).foreach { case ((op, phase), st) =>
        g.writeStartObject()
        g.writeNumberField("op", op); g.writeStringField("phase", phase)
        g.writeNumberField("jobs", st.jobs); g.writeNumberField("stages", st.stages)
        g.writeNumberField("tasks", st.tasks); g.writeNumberField("task_s", st.taskNs / 1e9)
        g.writeNumberField("input_bytes", st.inputBytes)
        g.writeNumberField("shuffle_read_bytes", st.shuffleReadBytes)
        g.writeNumberField("shuffle_write_bytes", st.shuffleWriteBytes)
        g.writeNumberField("spill_bytes", st.spillBytes)
        g.writeArrayFieldStart("stage_skews")
        st.stageSkews.foreach(g.writeNumber)
        g.writeEndArray()
        g.writeEndObject()
      }
      g.writeEndArray()
    }
    g.writeObjectFieldStart("oracle_sql")
    run.oracleNames.foreach(n => SparkEntry.oracleSql.get(n).foreach(g.writeStringField(n, _)))
    g.writeEndObject()
    g.writeObjectFieldStart("conf")
    spark.conf.getAll.toSeq.sortBy(_._1).foreach { case (k, v) => g.writeStringField(k, v) }
    g.writeEndObject()
    g.writeEndObject()
    g.close()
  }
}

final case class OpRecord(id: Int, round: Int, kind: String, name: String,
    startNs: Long, latencyS: Double, rows: Long, error: Option[String])

/** Per-run state: the operation records, the results held for the
  * oracle, and the span/listener plumbing. */
final class Run(val spark: SparkSession, val tracer: Tracer,
    val listener: Option[OpListener]) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  val rounds = mutable.ArrayBuffer.empty[(Int, Double)]
  val roundInfo = mutable.LinkedHashMap.empty[String, Double]
  val oracleNames = mutable.LinkedHashSet.empty[String]
  var released = 0L
  private val results = mutable.ArrayBuffer.empty[(Int, StructType, Array[Row])]
  private var nextOp = 0
  private val sc = spark.sparkContext

  /** Time one operation; `body` gets the op id and its root span id and
    * returns the number of result rows. Failures are recorded with their
    * exception class and message, and the run goes on. */
  def op(kind: String, name: String, round: Int)(body: (Int, Int) => Long): Unit = {
    val id = nextOp
    nextOp += 1
    if (tracer.enabled) sc.setJobGroup(OpListener.GroupPrefix + id, name, false)
    val t0 = System.nanoTime()
    val (rows, err) =
      try (tracer.span(id, -1, "op")(root => body(id, root)), None)
      catch { case e: Throwable =>
        (0L, Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"))
      }
    records += OpRecord(id, round, kind, name, t0, (System.nanoTime() - t0) / 1e9, rows, err)
    if (tracer.enabled) {
      sc.setLocalProperty(OpListener.PhaseProperty, null)
      sc.clearJobGroup()
    }
  }

  def phase[T](op: Int, root: Int, name: String)(f: => T): T = {
    if (tracer.enabled) sc.setLocalProperty(OpListener.PhaseProperty, name)
    tracer.span(op, root, name)(_ => f)
  }

  /** The query path shared by every workload: construct, plan (traced
    * runs only — collect plans anyway), collect in full, release the
    * operation's scratch. */
  def query(op: Int, root: Int)(construct: => DataFrame): Long = {
    val df = phase(op, root, "construct")(construct)
    if (tracer.enabled) phase(op, root, "plan")(df.queryExecution.executedPlan)
    val rows = phase(op, root, "exec")(df.collect())
    phase(op, root, "scratch.release")(released += Scratch.releaseAll(spark))
    results += ((op, df.schema, rows))
    rows.length.toLong
  }

  def timeRound(round: Int)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    rounds += ((round, (System.nanoTime() - t0) / 1e9))
  }

  def writeResults(f: File): Unit = {
    val g = new JsonFactory().createGenerator(f, JsonEncoding.UTF8)
    g.setRootValueSeparator(new com.fasterxml.jackson.core.io.SerializedString("\n"))
    results.foreach { case (op, schema, rows) =>
      g.writeStartObject()
      g.writeNumberField("op", op)
      g.writeStringField("schema", schema.json)
      g.writeArrayFieldStart("rows")
      rows.foreach(r => Values.writeRow(g, r, schema))
      g.writeEndArray()
      g.writeEndObject()
    }
    g.close()
  }
}

/** Result values as JSON: doubles in their shortest round-trip form, so
  * the Python side rebuilds the exact values before formatting them. */
object Values {
  def writeRow(g: JsonGenerator, r: Row, schema: StructType): Unit = {
    g.writeStartArray()
    schema.fields.indices.foreach(i => write(g, if (r.isNullAt(i)) null else r.get(i), schema(i).dataType))
    g.writeEndArray()
  }

  def write(g: JsonGenerator, v: Any, dt: DataType): Unit = (v, dt) match {
    case (null, _) => g.writeNull()
    case (d: Double, _) if d.isNaN || d.isInfinite => g.writeString(d.toString)
    case (d: Double, _) => g.writeNumber(d)
    case (f: Float, _) if f.isNaN || f.isInfinite => g.writeString(f.toString)
    case (f: Float, _) => g.writeNumber(f)
    case (i: Int, _) => g.writeNumber(i)
    case (l: Long, _) => g.writeNumber(l)
    case (s: Short, _) => g.writeNumber(s.toInt)
    case (b: Byte, _) => g.writeNumber(b.toInt)
    case (b: Boolean, _) => g.writeBoolean(b)
    case (d: java.math.BigDecimal, _) => g.writeString(d.toPlainString)
    case (d: BigDecimal, _) => g.writeString(d.bigDecimal.toPlainString)
    case (t: java.sql.Timestamp, _) => g.writeString(t.toInstant.toString)
    case (t: java.time.Instant, _) => g.writeString(t.toString)
    case (t: java.time.LocalDateTime, _) => g.writeString(t.toString)
    case (d: java.sql.Date, _) => g.writeString(d.toLocalDate.toString)
    case (d: java.time.LocalDate, _) => g.writeString(d.toString)
    case (b: Array[Byte], _) => g.writeBinary(b)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      g.writeStartArray(); s.foreach(x => write(g, x, et)); g.writeEndArray()
    case (r: Row, st: StructType) => writeRow(g, r, st)
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      g.writeStartArray()
      m.foreach { case (k, x) =>
        g.writeStartArray(); write(g, k, kt); write(g, x, vt); g.writeEndArray()
      }
      g.writeEndArray()
    case (x, _) => g.writeString(x.toString)
  }
}

/** cube_interactive: reference-shaped calls (`Oec.getData`,
  * `Oec.getMembers`, `Engine.getDataMulti`), `roundSize` calls a round. */
object Cube {
  private def strs(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  private def cuts(n: JsonNode): Map[String, Seq[String]] =
    Option(n).map(_.fields.asScala.map(e => e.getKey -> strs(e.getValue)).toMap)
      .getOrElse(Map.empty)

  def rounds(run: Run, dir: String, calls: JsonNode, deadline: Long,
      roundSize: Double): Unit = {
    val oec = new Oec(run.spark, dir)
    val engine = new Engine(run.spark, dir)
    val all = calls.elements.asScala.toIndexedSeq
    val perRound = if (roundSize == Double.MaxValue) all.size else roundSize.toInt
    var r = 0
    var next = 0
    while (next + perRound <= all.size && (r == 0 || System.nanoTime() < deadline)) {
      run.timeRound(r) {
        all.slice(next, next + perRound).foreach { c =>
          val kind = c.get("kind").asText
          val cube = c.get("cube").asText
          run.op(kind, cube, r)((op, root) => run.query(op, root) {
            kind match {
              case "data" => oec.getData(false, cube, strs(c.get("drilldowns")),
                strs(c.get("measures")), None, cuts(c.get("cuts")))(DummyImplicit.dummyImplicit)
              case "members" =>
                oec.getMembers(Map("cube" -> cube, "level" -> c.get("level").asText))
              case "multi" => engine.getDataMulti(
                CubeQuery(cube, Nil, strs(c.get("measures")), cuts(c.get("cuts"))),
                c.get("sets").elements.asScala.map(strs).toSeq)
            }
          })
        }
      }
      next += perRound
      r += 1
    }
  }
}

/** operator_pipeline: one batch ETL job. Session memos are invalidated
  * at job start; the job ingests the wire responses (see [[Ingest]]),
  * then runs registered operators, each looked up by name through
  * `SparkEntry.queries` and collected in full. */
object Pipeline {
  def round(run: Run, spec: JsonNode, warmUp: Boolean, r: Int): Unit = {
    val dir = spec.get(if (warmUp) "warm_dir" else "data_dir").asText
    val layouts = Ingest.layouts(spec, warmUp)
    run.timeRound(r) {
      run.tracer.span(-1, -1, "memo.invalidate") { _ =>
        Dedup.invalidateSharedPairs(run.spark)
        Similarity.invalidateIndexes(run.spark)
        Corpus.invalidateSharedCounts(run.spark)
      }
      Ingest.steps(run, spec, warmUp, layouts, r)
      spec.get("ops").elements.asScala.map(_.asText).foreach { name =>
        run.oracleNames += name
        run.op("registered", name, r) { (op, root) =>
          val fn = run.phase(op, root, "registry.lookup")(SparkEntry.queries(name))
          run.query(op, root)(fn(run.spark, dir))
        }
      }
    }
    if (!warmUp) Ingest.recordLayouts(run, layouts)
  }
}

/** The job's ingest stage: wire responses read through the `oecjson`
  * source, written through both layout sinks, then cut queries on the
  * layouts. */
object Ingest {
  /** (partitioned, z-ordered) output paths. */
  def layouts(spec: JsonNode, warmUp: Boolean): (String, String) = {
    val work = spec.get("work_dir").asText + (if (warmUp) "/warm" else "/timed")
    (s"$work/partitioned", s"$work/zorder")
  }

  def steps(run: Run, spec: JsonNode, warmUp: Boolean, layouts: (String, String), r: Int): Unit = {
    val ing = spec.get("ingest")
    val wire = ing.get(if (warmUp) "warm_wire_dir" else "wire_dir").asText
    val (partPath, zPath) = layouts
    val spark = run.spark
    var df: DataFrame = null
    run.op("ingest", "sources.load", r) { (op, root) =>
      df = run.phase(op, root, "sources.load")(
        spark.read.format("oecjson").option("endpoint", "file:" + wire).load())
      0L
    }
    run.op("ingest", "sources.read", r) { (op, root) =>
      run.phase(op, root, "sources.read")(df.write.format("noop").mode("overwrite").save())
      0L
    }
    run.op("ingest", "sink.write.partitioned", r) { (op, root) =>
      run.phase(op, root, "sink.write.partitioned")(Sink.writePartitioned(df, partPath,
        Seq(ing.get("partition_col").asText), Seq(ing.get("sort_col").asText)))
      0L
    }
    run.op("ingest", "sink.write.zorder", r) { (op, root) =>
      val z = ing.get("z_cols")
      run.phase(op, root, "sink.write.zorder")(Sink.writeZOrdered(df, zPath,
        z.get(0).asText, z.get(1).asText, ing.get("z_files").asInt))
      0L
    }
    ing.get("readbacks").elements.asScala.foreach { rb =>
      val path = if (rb.get("layout").asText == "partitioned") partPath else zPath
      run.op("readback", rb.get("name").asText, r)((op, root) => run.query(op, root) {
        spark.read.parquet(path).createOrReplaceTempView("layout")
        spark.sql(rb.get("sql").asText)
      })
    }
  }

  /** Files and bytes the last round left in each layout. */
  def recordLayouts(run: Run, layouts: (String, String)): Unit = {
    def files(p: String) = walk(new File(p)).filter(_.getName.endsWith(".parquet"))
    val (part, z) = (files(layouts._1), files(layouts._2))
    run.roundInfo("sink.files_written") = (part.size + z.size).toDouble
    run.roundInfo("sink.bytes_written.partitioned") = part.map(_.length).sum.toDouble
    run.roundInfo("sink.bytes_written.zorder") = z.map(_.length).sum.toDouble
    run.roundInfo("sink.bytes_written") = (part ++ z).map(_.length).sum.toDouble
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
}
