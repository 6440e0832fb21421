package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkFunSuite

/** The checkpoint-durability contract (`Scratch.stage`): without a
  * checkpoint dir (the default) lineage is cut with executor-local
  * blocks; once `sparkContext.setCheckpointDir` is set, every site in
  * the engine takes a durable reliable `checkpoint()` for executor-churn
  * clusters (preemptible/spot fleets) — same plan shape, same results. A
  * source lint pins `stage` as the ONLY raw `localCheckpoint()` call site
  * in src/main, so the mode provably reaches every lineage cut: a new
  * raw call anywhere fails here and must route through the helper.
  */
class CheckpointModeSpec extends SparkFunSuite {

  test("raw localCheckpoint() is confined to Scratch.stage (lint)") {
    val root = Paths.get("src/main/scala")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        """\.localCheckpoint\(\)""".r.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    assert(hits == Map("graft/operators/Scratch.scala" -> 1),
      s"localCheckpoint() outside Scratch.stage: $hits — route new " +
        "lineage cuts through Scratch.stage so the durability mode " +
        "reaches them")
  }

  test("both modes produce identical results through a staged pipeline") {
    def run(s: org.apache.spark.sql.SparkSession): Set[(Long, Long)] = {
      import s.implicits._
      // triangle + pendant: pageRank iterates through stage barriers
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
        .toDF("src", "dst")
      Graph.pageRank(edges, iters = 6)
        .select($"node", ($"rank" * 1e6).cast("long"))
        .as[(Long, Long)].collect().toSet
    }
    val sLocal = spark.newSession()
    val sReliable = spark.newSession()
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val viaLocal = run(sLocal)
    withTempDir("graft-ckpt") { dir =>
      spark.sparkContext.setCheckpointDir(dir)
      try {
        val viaReliable = run(sReliable)
        assert(viaLocal == viaReliable)
        assert(viaLocal.nonEmpty)
        // the reliable run must have actually written durable state
        val wrote = Files.walk(Paths.get(dir)).iterator().asScala
          .exists(p => Files.isRegularFile(p))
        assert(wrote, "reliable mode left no files in the checkpoint dir")
        Scratch.releaseAll(sLocal); Scratch.releaseAll(sReliable)
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("stageShared block-caches the checkpointed RDD in reliable mode") {
    // a reliable checkpoint() is FILE-backed only — a session-memoized
    // multi-consumer frame staged that way re-reads the whole frame from
    // the checkpoint dir per consumer (q139 1.36 s → 4.08 s in the r14
    // A/B). stageShared adds a MEMORY_AND_DISK persist on top so
    // consumers read blocks while the files still back recovery.
    // default mode: stageShared ≡ stage (localCheckpoint already
    // persists MEMORY_AND_DISK) — results unchanged
    val s3 = spark.newSession()
    val ck2 = Scratch.stageShared { import s3.implicits._
      Seq(1).toDF("x") }
    assert(ck2.count() == 1)
    Scratch.releaseAll(s3)
    withTempDir("graft-ckpt-shared") { dir =>
      val s2 = spark.newSession()
      spark.sparkContext.setCheckpointDir(dir)
      try {
        import s2.implicits._
        val ck = Scratch.stageShared(Seq(1, 2, 3).toDF("x"))
        val rdds = ck.queryExecution.logical.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }
        assert(rdds.nonEmpty, "stageShared must return a checkpointed frame")
        assert(rdds.forall(_.getStorageLevel !=
            org.apache.spark.storage.StorageLevel.NONE),
          "reliable-mode shared frames must be block-cached for " +
            "multi-consumer reads")
        assert(ck.count() == 3)
        rdds.foreach(_.unpersist(blocking = false))
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("releaseAll and invalidate delete reliable checkpoint files") {
    // a reliable checkpoint lives in files; unpersisting a frame that was
    // never block-cached frees nothing, so the drain itself must delete
    // them or every harness run leaves rdd-* dirs on shared storage
    withTempDir("graft-ckpt-reclaim") { dir =>
      def rddDirs: Seq[String] = Files.walk(Paths.get(dir)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("rdd-")).toSeq
      val s = spark.newSession()
      spark.sparkContext.setCheckpointDir(dir)
      try {
        import s.implicits._
        val scratch = Scratch.staged(Seq(1, 2, 3).toDF("x"))
        assert(scratch.count() == 3)
        assert(rddDirs.nonEmpty, "reliable staging wrote no rdd-* dir")
        assert(Scratch.releaseAll(s) == 1)
        assert(rddDirs.isEmpty, s"releaseAll left $rddDirs")
        val shared = Scratch.memo(s, "checkpointModeSpec", "reclaim")(
          Scratch.stageShared(Seq(4, 5).toDF("y")))
        assert(shared.count() == 2)
        assert(rddDirs.nonEmpty, "reliable stageShared wrote no rdd-* dir")
        assert(Scratch.invalidate(s) == 1)
        assert(rddDirs.isEmpty, s"invalidate left $rddDirs")
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }
}
