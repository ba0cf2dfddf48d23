package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command-line arguments, as the launcher passes them. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    dataDir: String, workDir: String, traceDir: String, startMs: Long) {
  def cores: Int = Runtime.getRuntime.availableProcessors()
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("data"), req("work"), m.getOrElse("traces", req("work")),
      m.get("start-ms").map(_.toLong).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime))
  }
}

/** One reported number with its unit and how many samples it summarises. */
final case class Metric(name: String, value: Double, unit: String, n: Long)

/** A workload's outcome. `metrics` are the ones BENCHMARK.json names for
  * this mode; `detail` are the further figures printed above them. */
final case class Outcome(
    attempted: Long, failed: Long, problems: Seq[String],
    metrics: Seq[Metric], detail: Seq[Metric]) {
  def correct: Boolean = failed == 0 && problems.isEmpty
}

object Spark {
  /** The session as `ServerMain` builds it, at `local[cores]`, with every
    * scratch directory under the benchmark's work directory. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()
    graft.GraftExtensions.register(spark)
    spark
  }
}

/** JVM-level figures of the process under test. */
object Jvm {
  /** Heap figures of one timed window, MB. `residentMb` is the heap live
    * after set-up and after the window, the larger; `peakMb` is the
    * largest heap in use right after any collection in the window (of
    * `collections`), never below `residentMb`. */
  final case class Memory(residentMb: Double, peakMb: Double, collections: Long)

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Heap in use right after a full collection, MB: the resident set.
    * The least of three collections a moment apart, because references
    * Spark's cleaner releases on one collection are freed by the next. */
  def residentMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(100)
      used
    }.min

  /** Watches the heap over a timed window: made when set-up ends (it
    * samples the resident set then), stopped when the window ends. In
    * between it keeps the largest heap-after-collection any collection's
    * GC notification reports (its heap pools summed), so memory that
    * lives only inside an op counts when a collection lands inside it.
    * On a generational collector that figure also holds old-generation
    * garbage not yet marked, so it varies from run to run far more than
    * the resident set. */
  final class MemWatch {
    private val residentStart = residentMb()
    private val peak, seen = new AtomicLong
    private val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        peak.accumulateAndGet(info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum, math.max)
        seen.incrementAndGet()
      }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def stop(): Memory = {
      emitters.foreach(_.removeNotificationListener(listener))
      val resident = math.max(residentStart, residentMb())
      Memory(resident, math.max(resident, peak.get / 1048576.0), seen.get)
    }
  }

  /** Total collection time so far, ms, over every collector. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** In-memory span log: each span has a name, an id shared by the spans of
  * one request or bump, a parent name, and start/end (ns since the run
  * began). Written out once, when the run ends. */
final class Tracer(t0: Long = System.nanoTime()) {
  import Tracer.Span
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[A](name: String, id: String, parent: String = "")(body: => A): A = {
    val s = System.nanoTime()
    try body finally record(name, id, parent, s, System.nanoTime())
  }

  /** A span timed by the caller (System.nanoTime stamps). */
  def record(name: String, id: String, parent: String, startNanoTime: Long, endNanoTime: Long): Unit =
    spans.add(Span(name, id, parent, startNanoTime - t0, endNanoTime - t0))

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, all.map(s =>
      f"""{"name":"${s.name}","id":"${s.id}","parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .asJava)
  }
}

object Tracer {
  final case class Span(name: String, id: String, parent: String, startNs: Long, endNs: Long)
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def metricLine(m: Metric): String =
    s"""{"metric":"${m.name}","value":${num(m.value)},"unit":"${m.unit}","n":${m.n}}"""

  def result(o: Outcome): String =
    s"""{"correct":${o.correct},"attempted":${o.attempted},"failed":${o.failed},"metrics":{""" +
      o.metrics.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString(",") + "}}"
}

/** Summaries for per-layer figures, which are reported whatever the
  * sample count (0 when a layer saw no samples). */
object Layers {
  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Every per-layer metric BENCHMARK.json names, in its order: the ones
    * measured, and 0 for a layer this workload leaves idle. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    PerLayer.names.map { case (n, unit) => byName.getOrElse(n, Metric(n, 0.0, unit, 0)) }
  }
}
