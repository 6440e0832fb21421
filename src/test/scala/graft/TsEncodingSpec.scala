package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cube.Engine

/** The events fixture's physical ts encoding has changed between
  * generations (TIMESTAMP(NANOS) -> long under nanosAsLong, then
  * timestamp[us] -> TIMESTAMP_NTZ), and round 9 showed what happens when
  * the engine assumes one of them: 24 queries erred at analysis and two
  * streaming queries silently compressed time 1000x. This spec pins the
  * schema-adaptive contract ([[graft.cube.Engine.adaptTs]]) against BOTH
  * encodings so the next fixture flip fails here, loudly, not in the
  * oracle run.
  *
  * The legacy encoding is modeled as a raw epoch-nanos long column: under
  * `spark.sql.legacy.parquet.nanosAsLong` a TIMESTAMP(NANOS) page scans
  * as exactly that LongType surface (Spark cannot WRITE nanos parquet, so
  * the long column is the faithful reader-side reproduction).
  */
class TsEncodingSpec extends SparkFunSuite {
  import org.apache.spark.sql.{SparkSession => SS}

  // The real fixtures are single FILES named events.parquet (the streaming
  // reader's pathGlobFilter depends on that), so rename Spark's one part
  // file into place instead of keeping the output directory.
  private def writeSingleFile(df: DataFrame, dest: String): Unit = {
    val tmpOut = dest + "_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val outDir = new java.io.File(tmpOut)
    val part = outDir.listFiles().find(_.getName.endsWith(".parquet")).get
    val destF = new java.io.File(dest)
    destF.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, destF.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    outDir.listFiles().foreach(_.delete())
    outDir.delete()
  }

  /** The micros- and nanos-encoded fixture dirs, for `body` only. */
  private def withFixtures[T](body: (String, String) => T): T = {
    val s: SS = spark
    import s.implicits._
    withTempDir("graft_ts_enc") { tmp =>
      val base = Seq(
        // (event_id, wall-clock micros string, user_id, type, value)
        (1L, "2024-03-01 10:00:00.123456", 7L, "click", 1.5),
        (2L, "2024-03-01 10:59:59.999999", 7L, "purchase", 20.0),
        (3L, "2024-03-01 12:30:00.000001", 9L, "click", 0.25))
        .toDF("event_id", "tss", "user_id", "event_type", "value")
      val micros = base
        .withColumn("ts",
          to_timestamp_ntz(col("tss"), lit("yyyy-MM-dd HH:mm:ss.SSSSSS")))
        .select("event_id", "ts", "user_id", "event_type", "value")
      writeSingleFile(micros, s"$tmp/micros/events.parquet")
      // legacy surface: epoch-NANOS as long, with sub-microsecond residue on
      // one row — `div 1000` must floor it away, not round or shift
      val nanos = micros
        .withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * 1000L +
            when(col("event_id") === 3L, 999L).otherwise(0L))
        .select("event_id", "ts", "user_id", "event_type", "value")
      writeSingleFile(nanos, s"$tmp/nanos/events.parquet")
      body(s"$tmp/micros", s"$tmp/nanos")
    }
  }

  test("Engine.table yields identical NTZ rows from micros- and nanos-encoded events") {
    withFixtures { (microsDir, nanosDir) =>
      // precondition: the two fixtures really scan with different physical surfaces
      assert(spark.read.parquet(s"$microsDir/events.parquet")
        .schema("ts").dataType == TimestampNTZType)
      assert(spark.read.parquet(s"$nanosDir/events.parquet")
        .schema("ts").dataType == LongType)

      val a = new Engine(spark, microsDir).table("events")
      val b = new Engine(spark, nanosDir).table("events")
      assert(a.schema("ts").dataType == TimestampNTZType)
      assert(b.schema("ts").dataType == TimestampNTZType)
      val rowsA = a.orderBy("event_id").collect().toSeq
      val rowsB = b.orderBy("event_id").collect().toSeq
      assert(rowsA == rowsB)
      // and the wall-clock values are the literal ones written, to the micro
      assert(rowsA.map(_.getAs[java.time.LocalDateTime]("ts").toString) ==
        Seq("2024-03-01T10:00:00.123456", "2024-03-01T10:59:59.999999",
          "2024-03-01T12:30:00.000001"))
    }
  }

  test("streaming reads adapt per-encoding too (hourlyRollup equal on both fixtures)") {
    withFixtures { (microsDir, nanosDir) =>
      def canon(df: DataFrame): Seq[Row] = df.collect().toSeq
      val a = canon(streaming.EventsStream.hourlyRollup(spark, microsDir))
      val b = canon(streaming.EventsStream.hourlyRollup(spark, nanosDir))
      assert(a == b)
      // 3 events over 3 distinct (hour, type) buckets — absolute counts, so
      // a unit-scale timestamp error (the round-9 silent failure mode)
      // cannot pass as "same shape"
      assert(a.size == 3)
      assert(a.map(_.getAs[Long]("event_count")).sum == 3L)
    }
  }
}
