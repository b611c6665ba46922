package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.cdc.{SavedToken, TokenStore}

/** Spans and counts of a traced run, kept in memory and written once at
  * the end. A span has a name, the id of the micro-batch, pass or query
  * it belongs to, the name of its parent span, and start and end in
  * epoch nanoseconds. With tracing off every call is a no-op apart from
  * running the body.
  */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private var selfNs = 0L
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + epochOffsetNs

  def span[T](name: String, id: Any, parent: String = "")(body: => T): T =
    if (!on) body
    else {
      val t0 = now
      try body
      finally record(name, id, parent, t0, now)
    }

  def record(name: String, id: Any, parent: String, startNs: Long,
      endNs: Long): Unit = if (on) {
    val t0 = System.nanoTime()
    synchronized {
      spans += Span(name, id.toString, parent, startNs, endNs)
      selfNs += System.nanoTime() - t0
    }
  }

  def count(name: String, delta: Double): Unit = if (on) synchronized {
    counts.update(name, counts.getOrElse(name, 0.0) + delta)
  }

  def durationsMs(name: String): Seq[Double] = synchronized {
    spans.iterator.filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e6).toSeq
  }

  def meanMs(name: String): Double = Stats.mean(durationsMs(name))

  def counted(name: String): Double = synchronized(counts.getOrElse(name, 0.0))

  /** Time spent inside the tracer's own bookkeeping. */
  def selfMs: Double = synchronized(selfNs / 1e6)

  def write(path: Path): Unit = if (on) synchronized {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"span":"${s.name}","id":"${s.id}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    counts.foreach { case (k, v) => sb ++= s"""{"count":"$k","value":$v}""" + "\n" }
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}

object Tracer {
  final case class Span(name: String, id: String, parent: String,
    startNs: Long, endNs: Long)
}

/** `TokenStore` wrapper that times each save for the `cdc.token` layer
  * and remembers when each token was mirrored.
  */
final class TimingTokenStore(inner: TokenStore, tracer: Tracer)
    extends TokenStore {
  /** "reader token" -> wall-clock millis at which its save finished */
  val savedAt = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  override def save(t: SavedToken): Unit = {
    tracer.span("token.save", t.token, "runtime.batch")(inner.save(t))
    savedAt.put(s"${t.streamReaderName} ${t.token}", System.currentTimeMillis())
  }

  override def load(name: String): Option[SavedToken] = inner.load(name)
}

/** Process-wide counters of the `jvm` layer. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
}

object Stats {
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
}
