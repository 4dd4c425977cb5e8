package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, `Test / fork`). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // one-time session setup: SQL functions + nanosAsLong (Tables.events)
    GraftExtensions.register(s)
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import spark.implicits._

  /** Jobs started while `body` runs under a job group of its own. A
    * broadcast exchange's future inherits the submitting thread's local
    * properties, so the jobs it launches count too, while jobs from any
    * other thread do not. */
  def jobsOf(body: => Unit): Int = {
    val group = s"graft-jobs-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job census", interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      drainListenerBus()
      sc.removeSparkListener(listener)
    }
    n.get()
  }

  /** Listener events arrive asynchronously: drain the bus (internal to
    * Spark, hence the reflective call) before reading what a listener
    * saw. */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** (id, vector) batch frame in the clusterer's input shape. */
  def vecBatch(rows: (String, Array[Float])*): DataFrame =
    rows.toSeq.toDF("id", "concat_embedding")

  def unit(xs: Double*): Array[Float] = {
    val n = math.sqrt(xs.map(x => x * x).sum)
    xs.map(x => (x / n).toFloat).toArray
  }
}
