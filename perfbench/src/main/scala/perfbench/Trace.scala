package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the id of the enclosing span on
  * the same thread (-1 at the top); spans of one search op share `opId`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, opId: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times calls and, when enabled, keeps each call as a span in memory until
  * the run writes them out. Untraced runs use the same clock calls. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String, opId: Long = -1L)(f: => A): (A, Span) = {
    val id = if (enabled) ids.getAndIncrement() else -1
    val parent = stack.get.headOption.getOrElse(-1)
    if (enabled) stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try {
      val a = f
      val s = Span(id, name, t0, System.nanoTime(), parent, opId)
      if (enabled) spans.add(s)
      (a, s)
    } finally if (enabled) stack.set(stack.get.tail)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Engine-side counters for one phase, summed from listener events. */
final class EngineCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var waitMs = 0L
  var shuffleWriteBytes = 0L
}

/** Collects job, stage and task metrics from outside the program. Jobs are
  * attributed to a phase through the submitting thread's local property
  * `perfbench.phase`. */
final class LayerListener extends SparkListener {
  private val counters = new java.util.HashMap[String, EngineCounters]()
  private val stageKeys = new java.util.HashMap[Int, Seq[String]]()

  private def of(key: String): EngineCounters = {
    var c = counters.get(key)
    if (c == null) { c = new EngineCounters; counters.put(key, c) }
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val keys = props.flatMap(p => Option(p.getProperty(LayerListener.PhaseKey))).toSeq
    keys.foreach(of(_).jobs += 1)
    e.stageIds.foreach(stageKeys.put(_, keys))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageKeys.get(e.stageInfo.stageId)).foreach(_.foreach(of(_).stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val keys = Option(stageKeys.get(e.stageId)).getOrElse(Nil)
    val m = e.taskMetrics
    keys.foreach { k =>
      val c = of(k)
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        c.waitMs += m.executorDeserializeTime + math.max(0L, e.taskInfo.duration - busy)
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Counters for `key` once every event submitted so far is delivered. */
  def get(sc: SparkContext, key: String): EngineCounters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(Option(counters.get(key)).getOrElse(new EngineCounters))
  }
}

object LayerListener {
  val PhaseKey = "perfbench.phase"
}

object Jvm {
  /** Summed collection time of every JVM collector, in seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Heap in use after a full collection, in MB: the live set. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double = statusField("VmHWM").map(_.split("\\s+")(0).toDouble / 1024.0)
    .getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))

  def statusField(name: String): Option[String] = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(name + ":")).map(_.substring(name.length + 1).trim)
    finally src.close()
  }

  /** Seconds since this JVM started. */
  def uptimeSeconds(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
