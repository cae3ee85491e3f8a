package linkbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Executor-side totals of the jobs attributed to one span tag. */
final class LayerStats {
  var jobs = 0
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

object Spans {
  /** Local property holding the innermost span's name; Spark copies local properties
    * to threads the tagged thread creates, so an `autoLink` call's warmup threads
    * inherit the tag of the span around the call.
    */
  val TagKey = "linkbench.span"
  val Untagged = "untagged"
}

/** Sums task metrics per span tag: job → tag from the job's local properties,
  * stage → tag from the job's stage list, task → tag through its stage.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stats = mutable.Map[String, LayerStats]()

  sc.addSparkListener(this)

  private def stat(tag: String): LayerStats = stats.getOrElseUpdate(tag, new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.TagKey)))
      .getOrElse(Spans.Untagged)
    e.stageInfos.foreach(s => stageTag.put(s.stageId, tag))
    synchronized { stat(tag).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val s = stat(stageTag.getOrDefault(e.stageId, Spans.Untagged))
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  /** Totals per tag since the previous call, after every queued event is delivered. */
  def take(): Map[String, LayerStats] = {
    org.apache.spark.linkbenchbridge.ListenerBus.drain(sc)
    synchronized {
      val out = stats.toMap
      stats.clear()
      out
    }
  }

  /** All tags' totals summed (one untraced call's executor cost). */
  def takeTotal(): LayerStats = {
    val total = new LayerStats
    take().values.foreach { s =>
      total.jobs += s.jobs; total.tasks += s.tasks; total.taskMs += s.taskMs
      total.shuffleBytes += s.shuffleBytes; total.spillBytes += s.spillBytes
    }
    total
  }
}

/** Nested driver-side spans for one thread. A span's self time is its wall time
  * minus the wall time of the spans opened inside it, so the self times of a root
  * span and everything under it sum to the root's wall time.
  */
final class Spans(sc: SparkContext) {
  private final class Frame { var childNs = 0L }
  private var stack: List[Frame] = Nil
  val selfNs = mutable.LinkedHashMap[String, Long]()
  val counts = mutable.LinkedHashMap[String, Long]()

  def apply[A](name: String)(body: => A): A = {
    val prevTag = sc.getLocalProperty(Spans.TagKey)
    val frame = new Frame
    stack = frame :: stack
    sc.setLocalProperty(Spans.TagKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val elapsed = System.nanoTime() - t0
      stack = stack.tail
      stack.headOption.foreach(_.childNs += elapsed)
      selfNs(name) = selfNs.getOrElse(name, 0L) + elapsed - frame.childNs
      sc.setLocalProperty(Spans.TagKey, prevTag)
    }
  }

  def count(name: String, v: Long): Unit = counts(name) = counts.getOrElse(name, 0L) + v
}
