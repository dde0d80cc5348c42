package archbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Percentiles over a latency sample. A failed operation enters the
  * sample as `Double.PositiveInfinity` (infinitely slow), so any
  * percentile it reaches reads as a miss, never as a fast request.
  */
object Stats {
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return 0.0
    // linear interpolation between closest ranks (numpy's default)
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    if (s(hi).isInfinite || s(lo).isInfinite) Double.PositiveInfinity
    else s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

/** Phase timings on standard error, for reading a run's log. */
object Log {
  def phase[T](what: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val v = f
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[archbench +$up%.1fs] $what%s: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    v
  }
}

/** One recorded span: a wrapped call into a layer of the engine. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long, thread: String)

/** Spans around the benchmark's own calls into the engine. Off unless
  * the run is traced; then every [[Trace.span]] records name, start,
  * end and parent (the enclosing span on the same thread) in memory,
  * and [[Trace.write]] dumps them when the run ends.
  */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name,
          t0, t1, Thread.currentThread().getName))
      }
    }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Self time per layer: each span's duration minus the time its
    * child spans cover (children run on the parent's thread, nested,
    * so their durations add without overlap). */
  def selfSecondsByLayer: Map[String, Double] = {
    val ss = all
    val childNs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent != 0L) childNs(s.parent) += s.endNs - s.startNs)
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => (s.endNs - s.startNs - childNs(s.id)).toDouble).sum / 1e9
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"thread":${Json.str(s.thread)}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark work per source, as the scheduler reports it. Jobs are
  * attributed by their thread-local job group when the benchmark set
  * one (`bench.<source>`), by the streaming query-id property for the
  * ingest query, and otherwise to serving (the HTTP server's threads
  * set neither).
  */
final class JobListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskNs = 0L; var shuffleWrite = 0L; var spill = 0L
    var recordsRead = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskNs += o.taskNs; shuffleWrite += o.shuffleWrite; spill += o.spill
      recordsRead += o.recordsRead
    }
  }
  private val bySource = mutable.Map.empty[String, Acc]
  private val stageSource = mutable.Map.empty[Int, String]
  @volatile var counting = false

  private def sourceOf(p: java.util.Properties): String =
    if (p == null) "serve"
    else {
      val g = p.getProperty("spark.jobGroup.id")
      if (g != null && g.startsWith("bench.")) g.stripPrefix("bench.")
      else if (p.getProperty("sql.streaming.queryId") != null) "stream"
      else "serve"
    }

  private def acc(s: String): Acc = bySource.getOrElseUpdate(s, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = sourceOf(e.properties)
    e.stageIds.foreach(id => stageSource(id) = s)
    if (counting) acc(s).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (counting)
      acc(stageSource.getOrElse(e.stageInfo.stageId, "serve")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (counting && e.taskMetrics != null) {
      val a = acc(stageSource.getOrElse(e.stageId, "serve"))
      val m = e.taskMetrics
      a.tasks += 1
      a.taskNs += m.executorRunTime * 1000000L
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  def total(): Acc = synchronized {
    val t = new Acc; bySource.values.foreach(t.add); t
  }

  def get(source: String): Acc = synchronized {
    val c = new Acc; bySource.get(source).foreach(c.add); c
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN) "0"
    // an infinitely slow percentile (a failed request) still has to
    // be a JSON number; the run is marked incorrect anyway
    else if (d.isInfinite) "1e12"
    else java.lang.Double.toString(d)
}

/** JVM-level counters for the timed window. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
