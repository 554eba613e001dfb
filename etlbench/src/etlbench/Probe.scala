package etlbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.BlockId

/** The two counters the end-to-end metrics need and nothing else:
  * executor CPU of finished tasks, and the peak memory held by cached
  * RDD blocks. Reset at the start of each pass; read after a bus drain. */
final class PassCounters extends SparkListener {
  private var cpuNs = 0L
  private val blocks = mutable.HashMap[BlockId, Long]()
  private var peak = 0L

  def reset(): Unit = synchronized { cpuNs = 0L; blocks.clear(); peak = 0L }
  def cpuSeconds: Double = synchronized(cpuNs / 1e9)
  def storagePeakMb: Double = synchronized(peak / 1048576.0)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) cpuNs += e.taskMetrics.executorCpuTime
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      if (b.storageLevel.isValid && b.memSize > 0) blocks(b.blockId) = b.memSize
      else blocks.remove(b.blockId)
      peak = math.max(peak, blocks.valuesIterator.sum)
    }
  }
}

/** Resource counters of one span (or of a whole pass, span "none"). */
final class Acc {
  var jobs, stages, tasks = 0L
  var cpuNs, inputBytes, shuffleWriteBytes, spillBytes, gcMs = 0L

  def +=(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
  }
}

/** Span-attributed listener of the traced run. The benchmark names the
  * open span in a Spark local property; jobs and stages carry it in
  * their properties, and tasks inherit it from their stage. It also
  * records job intervals (driver time = wall minus their union) and the
  * InMemoryTableScan nodes of every SQL execution.
  *
  * Scans are read from SQL-execution-start events on the shared bus, not
  * from a `QueryExecutionListener`: the program reads a cp1252 base in a
  * `Sessions.scoped` session (`newSession()`), whose listener manager
  * does not inherit listeners registered on the caller's session, so
  * every ETL query of the pass would go unseen. */
final class Tracer extends SparkListener {
  private val spans = mutable.HashMap[String, Acc]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private var scans = 0L

  private def acc(span: String): Acc = spans.getOrElseUpdate(span, new Acc)
  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).getOrElse("none")

  def reset(): Unit = synchronized {
    spans.clear(); stageSpan.clear(); jobStart.clear(); jobIntervals.clear(); scans = 0L
  }

  /** Copy of the per-span counters, and the InMemoryTableScan count. */
  def snapshot(): (Map[String, Acc], Long) = synchronized {
    (spans.map { case (k, v) => val c = new Acc; c += v; k -> c }.toMap, scans)
  }

  /** Milliseconds of [t0, t1] during which at least one job ran. */
  def jobBusyMs(t0: Long, t1: Long): Long = synchronized {
    val sorted = jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc(spanOf(e.properties)).jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => jobIntervals += ((t, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    acc(s).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = acc(stageSpan.getOrElse(e.stageId, "none"))
    a.tasks += 1
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      def count(p: SparkPlanInfo): Long =
        (if (p.nodeName == "InMemoryTableScan") 1L else 0L) + p.children.map(count).sum
      val n = count(s.sparkPlanInfo)
      synchronized { scans += n }
    case _ => ()
  }
}

object Tracer {
  val SpanKey = "etlbench.span"
}
