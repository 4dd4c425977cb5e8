package graft

import scala.jdk.CollectionConverters._

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
  def jobsOf(body: => Unit): Int = jobsBySite(body).values.sum

  /** [[jobsOf]]'s jobs keyed by call site: the first `graft.` frame of
    * the job's stage details, e.g.
    * `graft.operators.Clustering$.step(Clustering.scala:198)`. A
    * broadcast exchange's future runs on a pool thread with no `graft.`
    * frame, so all broadcast jobs share the key `broadcast`. A job over
    * no partitions has no stages and is keyed `no stages`. Inside a
    * running stream every job's call site is the `foreachBatch` line,
    * so the census attributes direct `processBatch` calls. */
  def jobsBySite(body: => Unit): Map[String, Int] = {
    val group = s"graft-jobs-${System.nanoTime()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          sites.add(
            if (e.stageInfos.isEmpty) "no stages"
            else e.stageInfos.iterator.flatMap(_.details.linesIterator)
              .map(_.trim).find(_.startsWith("graft.")).getOrElse("broadcast"))
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
    sites.asScala.groupBy(identity).map { case (site, n) => site -> n.size }
  }

  /** Listener events arrive asynchronously: drain the bus (internal to
    * Spark, hence the reflective call) before reading what a listener
    * saw. */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Order-free digest of a table's rows, every column included: row
    * count and two hash sums. */
  def digest(df: DataFrame): (Long, BigDecimal, BigDecimal) = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.map(col)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"),
        hash(cols: _*).cast("decimal(38,0)").as("g"))
      .agg(count(lit(1)), sum("h"), sum("g")).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
  }

  /** (id, vector) batch frame in the clusterer's input shape. */
  def vecBatch(rows: (String, Array[Float])*): DataFrame =
    rows.toSeq.toDF("id", "concat_embedding")

  def unit(xs: Double*): Array[Float] = {
    val n = math.sqrt(xs.map(x => x * x).sum)
    xs.map(x => (x / n).toFloat).toArray
  }
}
