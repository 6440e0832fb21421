package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval. `op` ties every span of one operation together;
  * `parent` is the span that caused it (-1 for an operation's root). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it only runs the body, so the
  * untraced run pays nothing for it; enabled, spans stay in memory and
  * are written once when the run ends. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def span[T](op: Int, parent: Int, name: String)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = nextId
      nextId += 1
      val t0 = System.nanoTime()
      try body(id)
      finally spans += Span(id, parent, op, name, t0, System.nanoTime())
    }
}

/** Per-(operation, phase) Spark work, attributed through the job group
  * and the `perfbench.phase` local property the harness thread sets. */
final class PhaseStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskNs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val stageSkews = mutable.ArrayBuffer.empty[Double]
}

/** Listener the traced run registers: maps every job to the operation
  * whose job group started it, and sums stage and task metrics per
  * (operation, phase). Jobs started from other threads (streaming
  * executions, for one) carry no operation group and are counted as
  * unattributed instead of being dropped. */
final class OpListener extends SparkListener {
  val stats = mutable.HashMap.empty[(Int, String), PhaseStats]
  var unattributedJobs = 0
  private val stageOwner = mutable.HashMap.empty[Int, (Int, String)]
  private val stageTaskNs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def key(props: java.util.Properties): Option[(Int, String)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(OpListener.GroupPrefix))
      .map(g => (g.stripPrefix(OpListener.GroupPrefix).toInt,
        Option(props.getProperty(OpListener.PhaseProperty)).getOrElse("other")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    key(e.properties) match {
      case Some(k) =>
        stats.getOrElseUpdate(k, new PhaseStats).jobs += 1
        e.stageIds.foreach(s => stageOwner(s) = k)
      case None => unattributedJobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { k =>
      val st = stats(k)
      val ns = e.taskInfo.duration * 1000000L
      st.tasks += 1
      st.taskNs += ns
      stageTaskNs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ns
      Option(e.taskMetrics).foreach { m =>
        st.inputBytes += m.inputMetrics.bytesRead
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageOwner.get(id).foreach { k =>
      val st = stats(k)
      st.stages += 1
      stageTaskNs.remove(id).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) st.stageSkews += sorted.last / med
      }
    }
  }
}

object OpListener {
  val GroupPrefix = "perfbench-op-"
  val PhaseProperty = "perfbench.phase"
}
