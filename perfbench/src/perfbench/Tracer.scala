package perfbench

import scala.collection.mutable
import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What one layer did, summed over every span that named it. */
final class Layer {
  var calls = 0
  var wallS = 0.0
  var driverS = 0.0
  var taskS = 0.0
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val microbatches = mutable.Set.empty[(java.util.UUID, Long)]
}

/** Per-span job/task/shuffle/spill/micro-batch counters from a
  * `SparkListener` and a [[StreamCounter]]. Spans run one at a
  * time on the driver: every job that starts while a span is open is
  * charged to it, and the listener bus is drained before the span
  * closes, so no event leaks into the next span. */
final class Tracer(sc: SparkContext) {
  @volatile private var open: String = null
  private val stageLayer = mutable.Map.empty[Int, String]
  private val runLayer = mutable.Map.empty[java.util.UUID, String]
  // task (launch, finish) wall-clock intervals of the open span, ms
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val layers = mutable.LinkedHashMap.empty[String, Layer]

  private def layer(name: String): Layer = layers.getOrElseUpdate(name, new Layer)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val name = open
      if (name != null) {
        layer(name).jobs += 1
        e.stageIds.foreach(stageLayer(_) = name)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageLayer.get(e.stageId).foreach { name =>
        val l = layer(name)
        l.tasks += 1
        if (!e.taskInfo.successful) l.failedTasks += 1
        l.taskS += (e.taskInfo.finishTime - e.taskInfo.launchTime) / 1e3
        intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          l.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          l.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private[perfbench] def streamStarted(runId: java.util.UUID): Unit =
    synchronized { if (open != null) runLayer(runId) = open }
  private[perfbench] def batchDone(runId: java.util.UUID, batchId: Long): Unit =
    synchronized { runLayer.get(runId).foreach(layer(_).microbatches += ((runId, batchId))) }

  def attach(): Unit = { sc.addSparkListener(jobs); Tracer.active = this }
  def detach(): Unit = {
    ListenerBusDrain(sc)
    sc.removeSparkListener(jobs); Tracer.active = null
  }

  /** Runs `body` as one span of layer `name`. Wall time is the span's;
    * driver time is the part of it no task was running. */
  def span[A](name: String)(body: => A): A = {
    ListenerBusDrain(sc)
    synchronized { open = name; intervals.clear() }
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body
    finally {
      ListenerBusDrain(sc)
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      synchronized {
        val l = layer(name)
        l.calls += 1
        l.wallS += wall
        l.driverS += math.max(0.0, wall - Tracer.unionMs(intervals.toSeq, t0, t1) / 1e3)
        open = null
      }
    }
  }
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, so
  * every session gets one: the streaming queries run in sessions of
  * their own (`SparkSession.newSession`), whose events a listener on
  * the benchmark's session would not see. */
final class StreamCounter extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Option(Tracer.active).foreach(_.streamStarted(e.runId))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Tracer.active).foreach(_.batchDone(e.progress.runId, e.progress.batchId))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Tracer {
  @volatile private[perfbench] var active: Tracer = null

  /** Length of the union of `[a, b)` intervals, clipped to `[lo, hi)`. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curB) { total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
    total + (curB - curA)
  }
}
