package newsbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Spark work counted for one job description. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var failedTasks = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
    failedTasks += o.failedTasks
  }
}

/** Job/stage/task census keyed by the `spark.job.description` local
  * property. A span sets the description around its call, and
  * broadcast-exchange futures inherit the submitting thread's local
  * properties, so every job a layer causes is attributed to it. Work
  * submitted under no description is kept under "".
  */
final class Census(sc: SparkContext) extends SparkListener {
  private val byDesc = new ConcurrentHashMap[String, Work]()
  private val stageDesc = new ConcurrentHashMap[Int, String]()

  private def descOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.DescriptionKey)))
      .getOrElse("")
  private def work(d: String): Work = byDesc.computeIfAbsent(d, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = descOf(e.properties)
    val w = work(d)
    w.synchronized { w.jobs += 1 }
    e.stageIds.foreach(stageDesc.put(_, d))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = work(stageDesc.getOrDefault(e.stageInfo.stageId, ""))
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = work(stageDesc.getOrDefault(e.stageId, ""))
    w.synchronized {
      if (!e.taskInfo.successful) w.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskMs += m.executorRunTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Sum of the work under every description `keep` accepts. Listener
    * events arrive asynchronously, so the bus is drained first. */
  def total(keep: String => Boolean = _ => true): Work = {
    Census.drain(sc)
    val t = new Work
    byDesc.asScala.foreach { case (d, w) => if (keep(d)) w.synchronized { t += w } }
    t
  }

  def reset(): Unit = { Census.drain(sc); byDesc.clear() }
}

object Census {
  def attach(sc: SparkContext): Census = {
    val c = new Census(sc)
    sc.addSparkListener(c)
    c
  }

  /** Wait until the listener bus has delivered every posted event
    * (streaming progress included). The bus is internal to Spark, hence
    * the reflective call. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** `StreamingQueryProgress.durationMs` of every trigger, per query. Must
  * be registered on the session that runs the stream: a listener on a
  * parent session receives no events of a `newSession()` clone's query. */
final class Progress extends StreamingQueryListener {
  import Progress.Trigger
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    seen.add(Trigger(p.id.toString, p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  /** Triggers of one query that processed input, in batch order. */
  def of(queryId: java.util.UUID): Seq[Trigger] =
    seen.asScala.toSeq.filter(t => t.queryId == queryId.toString && t.rows > 0)
      .sortBy(_.batchId)
}

object Progress {
  final case class Trigger(queryId: String, batchId: Long, rows: Long,
                           durations: Map[String, Long])
}
