package kgbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Process-wide CPU and GC clocks (local mode: the executors run in this
  * JVM, so process CPU covers driver and tasks alike). */
object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val threads = ManagementFactory.getThreadMXBean
  @volatile private var sink = 0L
  /** Thread CPU-seconds of a fixed integer workload (2^24 SplitMix64
    * steps): how fast the host runs a core right now. Neighbours on a
    * shared host slow every instruction for minutes at a time; the
    * workloads take this beside their timed work to scale CPU times to a
    * reference speed. */
  def refSpinS(): Double = {
    val c0 = threads.getCurrentThreadCpuTime
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 24)) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      x ^= z ^ (z >>> 31)
      i += 1
    }
    sink ^= x
    (threads.getCurrentThreadCpuTime - c0) / 1e9
  }
}

/** Spark task counters of one job group, i.e. of one span's own jobs. */
final class Counters {
  var jobMs, cpuNs, shuffleWrite, spill, inBytes, inRecords, outBytes, outRecords = 0L
  val stageTaskMs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Attributes task metrics to the job group active when each job was
  * submitted. Events arrive on the listener bus thread. */
final class LayerListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val groups = mutable.HashMap.empty[String, Counters]

  def counters(group: String): Counters = synchronized(groups.getOrElse(group, new Counters))
  def clear(): Unit = synchronized { groups.clear(); stageGroup.clear(); jobStart.clear() }

  private def of(group: String) = groups.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobStart(e.jobId) = (g, e.time)
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => of(g).jobMs += e.time - t0 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = of(g)
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.inRecords += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }
}

/** One finished span. `cpuNs`/`gcMs` are process deltas over the span
  * (children included); Spark counters come from the span's own jobs. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      startNs: Long, endNs: Long, cpuNs: Long, gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer a span belongs to: the part of its name before the dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans around the benchmark's calls into each layer. Off, `span` just
  * runs its body: the untraced runs that give the end-to-end numbers
  * pay nothing for it. On, each span sets a Spark job group so a
  * listener can charge task metrics to it, and `force` materializes a
  * layer's output at the layer boundary. */
sealed trait Tracer {
  def on: Boolean
  def span[A](name: String)(body: => A): A
}

object Tracer {
  object Off extends Tracer {
    def on = false
    def span[A](name: String)(body: => A): A = body
  }
}

final class SpanTracer(sc: SparkContext, val workload: String) extends Tracer {
  def on = true
  val listener = new LayerListener
  sc.addSparkListener(listener)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  /** The iteration the next spans belong to. */
  var iter = 0

  private def group(id: Int) = s"kgbench-$workload-$id"

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(group(id), name)
    val t0 = System.nanoTime()
    val c0 = Meter.cpuNs()
    val g0 = Meter.gcMs()
    try body
    finally {
      done += Span(id, name, parent, iter, t0, System.nanoTime(), Meter.cpuNs() - c0,
        Meter.gcMs() - g0)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), "")
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Drop everything recorded so far (the warm-up's spans). */
  def reset(): Unit = {
    org.apache.spark.kgbenchbus.drain(sc)
    done.clear()
    listener.clear()
  }

  /** Finished spans with their Spark counters, after the bus drains. */
  def finish(): Seq[(Span, Counters)] = {
    org.apache.spark.kgbenchbus.drain(sc)
    done.toSeq.sortBy(_.startNs).map(s => (s, listener.counters(group(s.id))))
  }
}
