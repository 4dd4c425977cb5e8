package newsbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** In-memory spans and per-batch counts of a traced run. A span times
  * one call into a layer and sets the job description `b<batch>|<name>`
  * for its duration, so the [[Census]] attributes the call's Spark work
  * to it. Counts made outside any span (the benchmark's own row counts)
  * run under [[Tracer.Aux]] and are kept out of every layer's work.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def span[T](batch: Long, name: String, parent: String = "")(f: => T): T = {
    val prev = sc.getLocalProperty(DescriptionKey)
    sc.setJobDescription(s"b$batch|$name")
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      spans.synchronized { spans += Span(name, batch, parent, t0, t1) }
      sc.setJobDescription(prev)
    }
  }

  /** Run the benchmark's own bookkeeping (row counts) outside the
    * layers. It is recorded as a child span of `parent`, so it counts
    * toward no layer's work or self time. */
  def aux[T](batch: Long = -1L, parent: String = "")(f: => T): T = {
    val prev = sc.getLocalProperty(DescriptionKey)
    sc.setJobDescription(Aux)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      auxNs.addAndGet(t1 - t0)
      spans.synchronized { spans += Span(Aux, batch, parent, t0, t1) }
      sc.setJobDescription(prev)
    }
  }

  private val auxNs = new java.util.concurrent.atomic.AtomicLong()

  /** Wall time spent in [[aux]] so far. */
  def auxSeconds: Double = auxNs.get() / 1e9

  /** Record one per-batch value of a layer metric. */
  def record(metric: String, v: Double): Unit = values.synchronized {
    values.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def recorded: Map[String, Seq[Double]] = values.synchronized(values.map { case (k, v) => k -> v.toList }.toMap)

  /** A span's duration without the benchmark's own bookkeeping in it. */
  def msWithoutAux(parent: Span): Double =
    parent.ms - allSpans.filter(k => k.name == Aux && k.batch == parent.batch &&
      k.parent == parent.name).map(_.ms).sum

  /** A span's own time: its duration minus the part its children cover. */
  def selfMs(parent: Span): Double = {
    val kids = allSpans.filter(k => k.batch == parent.batch && k.parent == parent.name)
      .map(k => (math.max(k.start, parent.start), math.min(k.end, parent.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = parent.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (parent.end - parent.start - covered) / 1e6
  }

  /** Spans as JSON lines, written when the run ends. */
  def writeSpans(path: String): Unit = {
    val t0 = allSpans.map(_.start).minOption.getOrElse(0L)
    val lines = allSpans.map { s =>
      Json.obj("name" -> s.name, "batch" -> s.batch, "parent" -> s.parent,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  val DescriptionKey = "spark.job.description"
  val Aux = "aux"

  final case class Span(name: String, batch: Long, parent: String, start: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
  }
}

/** Minimal JSON rendering for the result file and the span log. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}")

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
