package graft

import org.apache.spark.sql.functions.{col, ntile}
import org.apache.spark.sql.expressions.Window

import graft.cube.Engine

/** Dev/harness tooling: re-materialize a fixture directory with its
  * stream-read tables (events/documents/embeddings) written as
  * multi-file parquet DIRECTORIES instead of single files — the layout
  * every distributed writer produces, and the one that gives
  * `spark.graft.streaming.maxFilesPerTrigger` real micro-batches to
  * split a drain into (the driver-restart chaos harness needs some
  * batches committed and some not at kill time).
  *
  * `events` is split into TIME-RANGE files written sequentially (file
  * modification order = event-time order), because that is what a real
  * log's arrival order looks like and what event-time watermarks
  * REQUIRE: a random row-hash split makes micro-batch k+1 carry events
  * older than the watermark batch k advanced to, and the engine then
  * drops them as late data BY DESIGN (observed live: the stream-stream
  * joins lost most rows and the debounce flags reordered under a
  * hash-split events dir). documents/embeddings have no event-time
  * axis, so a plain hash split is fine there. The remaining tables are
  * copied as single files; row content is identical throughout, so the
  * SOURCE dir's oracle answers apply to the split dir unchanged.
  *
  * Usage: runMain graft.SplitFixture <srcDir> <dstDir> [filesPerTable=12]
  */
object SplitFixture {
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  private val split = Set("documents", "embeddings")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SplitFixture <src> <dst> [files]")
    val (src, dst) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 12
    val spark = GraftSession.local()
    tables.foreach { t =>
      val df = spark.read.parquet(Engine.tablePath(src, t))
      if (t == "events") {
        // sequential time-slice appends: strictly increasing file
        // mtimes in ts order, so the file stream source's oldest-first
        // listing replays the log in event-time order
        val path = Engine.tablePath(dst, "events")
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val sliced = df.withColumn("__slice",
          ntile(n).over(Window.orderBy(col("ts"), col("event_id"))))
        sliced.persist()
        (1 to n).foreach { i =>
          sliced.filter(col("__slice") === i).drop("__slice")
            .coalesce(1).write.mode("append").parquet(path)
          Thread.sleep(15) // tick mtime between slices
        }
        sliced.unpersist()
      } else {
        val out = if (split(t)) df.repartition(n) else df.coalesce(1)
        out.write.mode("overwrite").parquet(Engine.tablePath(dst, t))
      }
    }
    spark.stop()
    println(s"[splitfixture] wrote $dst ($n files per stream table)")
  }
}
