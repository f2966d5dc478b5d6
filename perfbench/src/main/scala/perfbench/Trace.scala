package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Per-pass counters of the Spark runtime, fed by the listener bus.
  * Read only after [[ListenerBridge.waitUntilEmpty]] has drained the bus,
  * so no event of one pass is counted in the next.
  */
final class PassCounters {
  var jobs = 0
  var stages = 0
  var singleTaskStages = 0
  var tasks = 0
  var failedTasks = 0
  var taskBusyMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var materializeJobs = 0
  var lrJobs = 0
  val sites = mutable.Map.empty[String, Int].withDefaultValue(0)
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener that attributes jobs to layers by their call site, the
  * calling stack Spark records on each job's stages.
  */
final class RuntimeListener extends SparkListener {
  private var cur = new PassCounters
  private val jobStart = mutable.Map.empty[Int, Long]

  /** The counters since the last call; the caller drains the bus first. */
  def take(): PassCounters = synchronized { val c = cur; cur = new PassCounters; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStart(e.jobId) = e.time
    // the result stage carries the job's call site: `name` is the short
    // form, `details` the stack of the calling thread
    val result = e.stageInfos.maxByOption(_.stageId)
    cur.sites(result.map(_.name).getOrElse("")) += 1
    val stack = result.map(_.details).getOrElse("")
    if (stack.contains("graft.Materialize$.apply")) cur.materializeJobs += 1
    // L-BFGS / OWL-QN rounds: one treeAggregate job per loss evaluation
    if (stack.contains("RDDLossFunction.calculate")) cur.lrJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      cur.stages += 1
      if (e.stageInfo.numTasks == 1) cur.singleTaskStages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type])
      cur.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskBusyMs += m.executorRunTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.inputRecords += m.inputMetrics.recordsRead
      cur.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. Outside a traced pass a span is a plain
  * call and no listener is attached, so untraced passes measure the
  * program alone.
  */
final class Tracer(sc: SparkContext) {
  final case class Span(name: String, pass: Int, startNs: Long, endNs: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Quantities measured at a boundary rather than spanned, per pass. */
  val sums = mutable.Map.empty[(Int, String), Double].withDefaultValue(0.0)
  private val listener = new RuntimeListener
  var enabled = false
  var pass = 0

  def begin(p: Int, traced: Boolean): Unit = {
    pass = p
    enabled = traced
    if (traced) sc.addSparkListener(listener)
  }

  /** End the pass: drain the listener bus, detach, and hand back the
    * pass's counters (empty for an untraced pass). */
  def end(): PassCounters =
    if (!enabled) new PassCounters
    else {
      ListenerBridge.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
      enabled = false
      listener.take()
    }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans += Span(name, pass, t0, System.nanoTime())
    }

  def add(name: String, v: Double): Unit =
    if (enabled) sums((pass, name)) += v

  /** Seconds spent in spans named `name` during pass `p`, plus any
    * quantity added under that name. */
  def seconds(name: String, p: Int): Double =
    spans.iterator.filter(s => s.pass == p && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum + sums((p, name))
}

object Jvm {
  /** Peak resident memory of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}
