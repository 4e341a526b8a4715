package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span recorder for the traced run. Every call the benchmark makes into a
  * layer runs inside `span(name) { ... }`; Spark work is attributed to the
  * open span by time: the listener bus is drained when a span opens (so
  * earlier events land before it) and again before it closes (so its own
  * events land inside it). The client loop is single-threaded, so the open
  * interval holds exactly the span's jobs, including those the program runs
  * on its own `Pools.io` threads, which do not inherit the job group or
  * other local properties. Spans do not nest.
  *
  * With `enabled = false` a span is a bare call: no listener is registered
  * and no drain is paid, which is how the end-to-end run measures.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {

  /** Totals per span name over every call. Times in seconds. */
  final class Acc {
    var calls = 0L
    var wallS = 0.0
    var jobs = 0L
    var tasks = 0L
    var driverGapS = 0.0
    var execCpuS = 0.0
    var gcS = 0.0
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var recordsWritten = 0L
  }

  val spans: mutable.LinkedHashMap[String, Acc] = mutable.LinkedHashMap.empty

  // ns spent draining the bus and inside listener callbacks: the cost of
  // tracing itself, reported as trace_overhead
  private var drainNs = 0L
  @volatile private var callbackNs = 0L

  private final class Open {
    val jobStart = mutable.HashMap.empty[Int, Long]
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var tasks = 0L
    var cpuNs = 0L
    var shuffle = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    var records = 0L
  }

  @volatile private var open: Open = _

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val o = open
      if (o != null) o.jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val o = open
      if (o != null) o.jobStart.remove(e.jobId).foreach(s =>
        o.jobIntervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val o = open
      val m = e.taskMetrics
      if (o != null && m != null) {
        o.tasks += 1
        o.cpuNs += m.executorCpuTime
        o.shuffle += m.shuffleWriteMetrics.bytesWritten
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        o.input += m.inputMetrics.bytesRead
        o.output += m.outputMetrics.bytesWritten
        o.records += m.outputMetrics.recordsWritten
      }
    }
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t0
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    graft.ListenerDrain.drain(spark)
    drainNs += System.nanoTime() - t0
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    require(open == null, s"span $name opened inside another span")
    drain()
    val o = new Open
    val gc0 = gcMillis()
    val wallMs0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    open = o
    try body
    finally {
      drain()
      open = null
      val wallS = (System.nanoTime() - t0) / 1e9
      val wallMs1 = System.currentTimeMillis()
      val a = spans.getOrElseUpdate(name, new Acc)
      a.calls += 1
      a.wallS += wallS
      a.jobs += o.jobIntervals.size + o.jobStart.size
      a.tasks += o.tasks
      a.driverGapS += math.max(0.0,
        wallS - unionMs(o.jobIntervals.toSeq, wallMs0, wallMs1) / 1e3)
      a.execCpuS += o.cpuNs / 1e9
      a.gcS += (gcMillis() - gc0) / 1e3
      a.shuffleBytes += o.shuffle
      a.spillBytes += o.spill
      a.inputBytes += o.input
      a.outputBytes += o.output
      a.recordsWritten += o.records
    }
  }

  /** Milliseconds of [lo, hi] covered by at least one job interval. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
    covered
  }

  def overheadS: Double = (drainNs + callbackNs) / 1e9

  def close(): Unit =
    if (enabled) spark.sparkContext.removeSparkListener(listener)
}
