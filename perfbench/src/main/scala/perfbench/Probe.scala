package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.metrics.Metrics

/** Spark counters of one named layer call, summed over its traced calls. */
final class LayerTotals {
  var calls = 0L
  var wallNs = 0L
  var execMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var jobs = 0L
  var tasks = 0L

  def add(wall: Long, m: Metrics): Unit = {
    calls += 1; wallNs += wall
    execMs += m.executorRunTimeMs.sum(); gcMs += m.gcTimeMs.sum()
    inputBytes += m.inputBytes.sum(); shuffleWriteBytes += m.shuffleWriteBytes.sum()
    jobs += m.jobsStarted.sum(); tasks += m.tasks.sum()
  }

  def wallS: Double = wallNs / 1e9
  def perCall(x: Double): Double = if (calls == 0) 0.0 else x / calls
  /** Executor time over wall time: the cores kept busy on average. */
  def busyCores: Double = if (wallNs == 0) 0.0 else execMs / 1e3 / wallS
}

/** Tracing from outside the engine. When `on`, every [[span]] records
  * (name, start, end, parent, request id) in memory, and every [[call]]
  * — a timed call into one layer's public function — also attaches a
  * scoped [[graft.metrics.Metrics]] listener for its duration. When off,
  * both are plain pass-throughs, which is how untraced runs time. */
final class Probe(spark: SparkSession) {
  private final class Span(val id: Int, val parent: Int, val req: Long,
                           val name: String, val start: Long) { var end = 0L }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  /** Off in set-up and warm-up; toggled per loop cycle in a traced run,
    * to measure tracing overhead. */
  var on: Boolean = false
  var request: Long = -1L
  val layers = mutable.LinkedHashMap.empty[String, LayerTotals]

  def layer(name: String): LayerTotals = layers.getOrElse(name, new LayerTotals)

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = new Span(spans.size, open.headOption.fold(-1)(_.id), request, name, System.nanoTime())
      spans += s
      open = s :: open
      try f finally { s.end = System.nanoTime(); open = open.tail }
    }

  def call[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val sc = spark.sparkContext
      // a fresh listener still receives events queued before it attached
      PerfbenchBus.drain(sc)
      val m = new Metrics
      sc.addSparkListener(m)
      val t0 = System.nanoTime()
      try span(name)(f)
      finally {
        val wall = System.nanoTime() - t0
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(m)
        layers.getOrElseUpdate(name, new LayerTotals).add(wall, m)
      }
    }

  /** Self time per layer (the span-name prefix before the first '.'):
    * each span's duration minus the part its children cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (l, ss) =>
      l -> ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9 }
  }

  def spanCount: Int = spans.size

  /** Writes the spans as JSON lines (times in microseconds from the
    * first span). */
  def flush(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.fold(0L)(_.start)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.req},"name":"${s.name}",""" +
        s""""start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Whole-JVM counters (driver and local executors share the JVM). */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** CPU time of the whole process (all threads), nanoseconds. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Seconds from JVM start to now. */
  def uptimeS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond it
    * (nearest rank): (percentile, value, samples beyond). None below 11
    * samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double, Int)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val s = xs.sorted
      var p = 100 * (n - 10) / n
      def rank(p: Int) = math.max(1, math.ceil(p * n / 100.0).toInt)
      while (n - rank(p) < 10) p -= 1
      Some((p, s(rank(p) - 1), n - rank(p)))
    }
  }
}
