package newsbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{NewsPipeline, SparkHygiene}
import graft.operators.ClusterTable
import graft.streaming.StreamingPipeline

/** One benchmark run of one workload; `perfbench/run.py` launches it and
  * turns the raw samples it writes into the reported metrics.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *        --data DIR --work DIR --out FILE --spans FILE
  */
object Main {

  /** A workload: its corpus generator, the pipeline configuration it
    * runs with (shuffle partitions are set to the run's cores) and the
    * point lookups per read cycle. */
  final case class Workload(corpus: (IndexedSeq[Corpus.Doc], Long, Int, Int) => Corpus,
                            batches: Int, batchSize: Int, cfg: StreamingPipeline.Config,
                            lookupsPerCycle: Int)

  val Workloads: Map[String, Workload] = Map(
    // reference shape: 500-article batches, threshold 5; a lookup lists
    // 64 bucket directories and takes ~0.45 s
    "open_feed" -> Workload(Corpus.open, 2, 500, StreamingPipeline.Config(threshold = 5), 1),
    // the a9 planted corpus, summarized by the change-feed consumer; a
    // lookup takes ~0.15 s, mostly per-query fixed cost, and jitters
    // more, so a run takes more of them
    "cdc_decoupled" -> Workload(Corpus.planted, 2, 500, StreamingPipeline.Config(
      threshold = NewsPipeline.Threshold, embedDim = NewsPipeline.EmbedDim,
      clock = NewsPipeline.Clock, inlineSummarize = false, emitCdc = true), 5))

  /** The seed at which `cdc_decoupled` also checks the a9 corpus. */
  val A9Seed = 900009L
  val WarmupBatch = 250
  val ReadCycles = 6

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cpus: Int, data: String, work: String, out: String, spans: String)

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0, s"expected --name value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String, lo: Long, hi: Long): Long = {
      val v = get(k).toLongOption.getOrElse(
        throw new IllegalArgumentException(s"--$k must be an integer, got '${get(k)}'"))
      require(v >= lo && v <= hi, s"--$k must be in [$lo, $hi], got $v")
      v
    }
    val w = get("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.keys.mkString(", ")})")
    val nproc = Runtime.getRuntime.availableProcessors
    Args(w, int("seed", 0, Long.MaxValue), int("seconds", 1, 3600).toInt,
      int("trace", 0, 1) == 1, int("cpus", 1, nproc).toInt,
      get("data"), get("work"), get("out"), get("spans"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val sentinelsStart = Sentinels.all(a.cpus, a.work)
    val sentinelSec = sentinelsStart.values.sum
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = run(spark, a, sentinelSec)
      val fields = result + ("sentinels" -> Map(
        "start" -> sentinelsStart, "end" -> Sentinels.all(a.cpus, a.work)))
      java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
        Json.render(fields).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally {
      spark.stop()
      Files.delete(s"${a.work}/runs")
    }
  }

  private def run(spark: SparkSession, a: Args, sentinelSec: Double): Map[String, Any] = {
    val w = Workloads(a.workload)
    val cfg = w.cfg.copy(batchShufflePartitions = Some(a.cpus))
    val census = Census.attach(spark.sparkContext)
    graft.GraftExtensions.register(spark)
    // the workload runs on its own clone: no conf of the caller's session changes
    val s = SparkHygiene.streamStateSession(spark, a.cpus)
    val progress = new Progress
    s.streams.addListener(progress)
    val runs = s"${a.work}/runs"
    def phase(what: String): Unit = System.err.println(
      f"[newsbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $what")
    phase("session ready")
    val docs = Corpus.loadDocs(spark, a.data)
    val corpus = w.corpus(docs, a.seed, w.batches, w.batchSize)
    corpus.write(s"$runs/in")

    // set-up ends with one warm-up micro-batch (JIT, codegen, first
    // stream) on throwaway state, drawn from another seed
    val warm = w.corpus(docs, a.seed + 1000003L, 1, WarmupBatch)
    warm.write(s"$runs/warm-in")
    phase("corpus written")
    Feed.drain(s, progress, s"$runs/warm-in", s"$runs/warm", cfg, warm.validCount)
    Files.delete(s"$runs/warm")
    phase("warm-up drained")
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - sentinelSec

    var attempted = 0
    var failed = 0
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    def check(name: String)(f: => Option[String]): Unit = {
      attempted += 1
      val problem = try f catch { case NonFatal(e) => Some(e.toString) }
      if (problem.isDefined) failed += 1
      checks += Map("name" -> name, "ok" -> problem.isEmpty, "detail" -> problem.getOrElse(""))
    }
    def drain(dir: String, c: StreamingPipeline.Config, tracer: Option[Tracer] = None): Option[Feed.Drain] = {
      attempted += w.batches
      try {
        val d = Feed.drain(s, progress, s"$runs/in", dir, c, corpus.validCount, tracer)
        failed += math.max(0, w.batches - d.batchMs.size)
        Some(d)
      } catch { case NonFatal(e) =>
        System.err.println(s"[newsbench] drain failed: $e")
        failed += w.batches
        None
      }
    }

    // A traced run drains untraced, through the traced replay, and
    // untraced again, each into fresh state. The JIT is still warming
    // over the first drains, so trace.overhead_pct compares the traced
    // drain with the mean of the two around it.
    val tracedDir = s"$runs/traced"
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val before = if (a.trace) {
      val d = drain(s"$runs/before", cfg)
      Files.delete(s"$runs/before")
      d
    } else None
    val tracedDrain = tracer.map { t =>
      census.reset()
      Census.resetHeapPeak()
      val gc = Census.gcMs()
      val d = drain(tracedDir, cfg, Some(t))
      TracedDrain(d, t.auxSeconds, Census.gcMs() - gc, Census.heapPeakMb())
    }

    // measured: fixed-size drains into fresh state, as many as fit in
    // the run's seconds (at least one; one in a traced run)
    val drains = mutable.ArrayBuffer.empty[Feed.Drain]
    val gc0 = Census.gcMs()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var last = ""
    while (last.isEmpty || (!a.trace && drains.nonEmpty &&
        elapsed + drains.last.seconds <= a.seconds)) {
      if (last.nonEmpty) Files.delete(last)
      last = s"$runs/drain${drains.size}"
      drain(last, cfg).foreach(drains += _)
    }
    phase(s"${drains.size} measured drain(s) done")
    val state = s"$last/state"
    val stateMb = Files.bytes(state) / 1e6
    check("membership")(Checks.membership(s, state, w.batches - 1, corpus))

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_s" -> setupS, "state_mb" -> stateMb, "drain_gc_ms" -> (Census.gcMs() - gc0),
      "drains" -> drains.map(drainJson))

    if (!a.trace) {
      val (store, keys) = Feed.serve(s, state, s"$last/store")
      val r = Feed.reads(s, state, store, keys, new scala.util.Random(a.seed),
        ReadCycles, w.lookupsPerCycle)
      attempted += r.attempted
      failed += r.failed
      out ++= Seq("list_ms" -> r.listMs, "lookup_ms" -> r.lookupMs,
        "list_rows" -> r.listRows, "lookup_keys" -> keys.size)
      if (a.workload == "cdc_decoupled" && a.seed == A9Seed)
        check("a9_ui_clusters")(a9(spark, s, a, docs, runs))
    } else {
      val (layers, r) = traced(spark, s, a, cfg, census, runs, tracer.get, tracedDrain.get,
        tracedDir, before.toSeq ++ drains, state, check)
      attempted += r.attempted
      failed += r.failed
      out ++= layers
    }
    phase("reads and checks done")
    out ++= Seq("attempted" -> attempted, "failed" -> failed, "checks" -> checks.toList)
    out.toMap
  }

  private def drainJson(d: Feed.Drain): Map[String, Any] = Map(
    "seconds" -> d.seconds, "lag_s" -> d.lagS, "valid" -> d.valid,
    "batch_ms" -> d.batchMs, "commit_ms" -> d.commitMs, "planning_ms" -> d.planningMs)

  /** The traced drain, with the wall time of the benchmark's own counts
    * in it and the JVM's GC time and heap peak over it. */
  final case class TracedDrain(drain: Option[Feed.Drain], auxS: Double, gcMs: Long,
                               heapPeakMb: Double)

  /** The rest of a traced run, after the traced drain (the same corpus
    * through [[graft.streaming.TracedBatch]]) and the untraced ones: the
    * checks, the UI reads through spans, and the per-layer samples. The
    * spans go to `--spans`. */
  private def traced(spark: SparkSession, s: SparkSession, a: Args,
                     cfg: StreamingPipeline.Config, census: Census, runs: String,
                     t: Tracer, traced: TracedDrain, tracedDir: String,
                     untraced: Seq[Feed.Drain], state: String,
                     check: String => (=> Option[String]) => Unit): (Map[String, Any], Feed.Reads) = {
    val td = traced.drain
    check("traced_equals_untraced")(Checks.same("final tables",
      Checks.tableDigest(s, state), Checks.tableDigest(s, s"$tracedDir/state")))
    if (!cfg.inlineSummarize)
      check("decoupled_equals_inline")(decoupledEqualsInline(s, cfg, runs))
    val (store, keys) = Feed.serve(s, s"$tracedDir/state", s"$tracedDir/store")
    val r = Feed.reads(s, s"$tracedDir/state", store, keys, new scala.util.Random(a.seed),
      ReadCycles, Workloads(a.workload).lookupsPerCycle, Some(t))
    Census.drain(spark.sparkContext)

    val batchLayers = Set(graft.streaming.TracedBatch.Batch, "StreamingPipeline.state.read",
      "Preprocess", "Clustering", "ClusterTable.upsert", "ClusterTable.summarize",
      "StreamingPipeline.state.write")
    val spans = t.allSpans.filter(_.batch >= 0)
    def ms(name: String) = spans.filter(_.name == name).map(_.ms)
    def work(name: String) = spans.filter(_.name == name)
      .map(sp => census.total(_ == s"b${sp.batch}|$name"))
    val batchSpans = spans.filter(_.name == graft.streaming.TracedBatch.Batch)
    val batchWork = batchSpans.map(sp => census.total { d =>
      d.startsWith(s"b${sp.batch}|") && batchLayers(d.drop(s"b${sp.batch}|".length))
    })
    val storeBytes = Files.stats(s"$tracedDir/store")._2.toDouble
    val lookupBytes = work("ClusterStore.lookup").map(_.inputBytes.toDouble)
    // work under a span: the traced drain and the traced reads
    val whole = census.total(_.contains("|"))
    val rec = t.recorded
    val layers = Map[String, Seq[Double]](
      "Preprocess.ms" -> ms("Preprocess"),
      "Preprocess.jobs" -> work("Preprocess").map(_.jobs.toDouble),
      "Clustering.ms" -> ms("Clustering"),
      "Clustering.jobs" -> work("Clustering").map(_.jobs.toDouble),
      "Clustering.shuffle_bytes" -> work("Clustering").map(_.shuffleBytes.toDouble),
      "ClusterTable.upsert.ms" -> ms("ClusterTable.upsert"),
      "ClusterTable.upsert.jobs" -> work("ClusterTable.upsert").map(_.jobs.toDouble),
      "ClusterTable.summarize.ms" -> ms("ClusterTable.summarize"),
      "ClusterTable.summarize.jobs" -> work("ClusterTable.summarize").map(_.jobs.toDouble),
      "StreamingPipeline.state.read_ms" -> ms("StreamingPipeline.state.read"),
      "StreamingPipeline.state.write_ms" -> ms("StreamingPipeline.state.write"),
      "StreamingPipeline.batch.ms" -> batchSpans.map(t.msWithoutAux),
      "StreamingPipeline.batch.self_ms" -> batchSpans.map(t.selfMs),
      "StreamingPipeline.batch.jobs" -> batchWork.map(_.jobs.toDouble),
      "StreamingPipeline.batch.stages" -> batchWork.map(_.stages.toDouble),
      "StreamingPipeline.batch.task_ms" -> batchWork.map(_.taskMs.toDouble),
      "streaming.trigger.commit_ms" -> td.map(_.commitMs).getOrElse(Nil),
      "streaming.trigger.planning_ms" -> td.map(_.planningMs).getOrElse(Nil),
      "CdcConsumer.ms" -> ms("CdcConsumer"),
      "CdcConsumer.jobs" -> work("CdcConsumer").map(_.jobs.toDouble),
      "latestTable.ms" -> ms("latestTable"),
      "uiClusterList.ms" -> ms("uiClusterList"),
      "uiClusterList.jobs" -> work("uiClusterList").map(_.jobs.toDouble),
      "ClusterStore.lookup_ms" -> ms("ClusterStore.lookup"),
      "ClusterStore.bytes_read" -> lookupBytes,
      "ClusterStore.prune_ratio" -> lookupBytes.map(_ / storeBytes)
    ) ++ rec
    t.writeSpans(a.spans)
    (Map(
      "traced_drain" -> td.map(drainJson),
      "untraced_s" -> untraced.map(_.seconds),
      "layers" -> layers,
      "whole" -> Map(
        "spark.jobs" -> whole.jobs, "spark.stages" -> whole.stages,
        "spark.shuffle_bytes" -> whole.shuffleBytes, "spark.task_ms" -> whole.taskMs,
        "spark.failed_tasks" -> whole.failedTasks,
        "jvm.gc_ms" -> traced.gcMs, "jvm.heap_peak_mb" -> traced.heapPeakMb,
        "trace.overhead_pct" -> (td match {
          case Some(x) if untraced.size == 2 =>
            val u = untraced.map(_.seconds).sum / 2
            (x.seconds - u) / u * 100.0
          case _ => Double.NaN
        }),
        "trace.aux_s" -> traced.auxS)), r)
  }

  /** The change-feed consumer, run after every producer batch as
    * `StreamingSpec` runs it, must leave the table the inline path
    * leaves. (A consumer that lags several batches summarizes each
    * cluster once over more articles, so the measured drain, which runs
    * the consumer after the producer, is not compared.) The first two
    * batches of the workload's input are replayed through
    * `processBatch` and `CdcConsumer.runOnce`. */
  private def decoupledEqualsInline(s: SparkSession, cfg: StreamingPipeline.Config,
                                    runs: String): Option[String] = {
    val files = new java.io.File(s"$runs/in").listFiles().map(_.getPath).sorted.take(2)
    val inline = cfg.copy(inlineSummarize = true, emitCdc = false)
    files.zipWithIndex.foreach { case (f, i) =>
      val batch = s.read.schema(Corpus.schema).json(f)
      StreamingPipeline.processBatch(batch, i.toLong, s"$runs/pair-inline", inline)
      StreamingPipeline.processBatch(batch, i.toLong, s"$runs/pair-decoupled", cfg)
      graft.streaming.CdcConsumer.runOnce(s, s"$runs/pair-decoupled", cfg.threshold)
    }
    Checks.same("decoupled and inline final tables",
      Checks.tableDigest(s, s"$runs/pair-decoupled"), Checks.tableDigest(s, s"$runs/pair-inline"))
  }

  /** The a9 corpus through the stream, inline, must give the UI list
    * `NewsPipeline.uiClusters` gives on the same documents. */
  private def a9(spark: SparkSession, s: SparkSession, a: Args, docs: IndexedSeq[Corpus.Doc],
                 runs: String): Option[String] = {
    Corpus.a9(docs).write(s"$runs/a9-in")
    val cfg = StreamingPipeline.Config(threshold = NewsPipeline.Threshold,
      embedDim = NewsPipeline.EmbedDim, clock = NewsPipeline.Clock,
      batchShufflePartitions = Some(a.cpus))
    StreamingPipeline.start(
      s.readStream.schema(Corpus.schema).option("maxFilesPerTrigger", "1").json(s"$runs/a9-in"),
      s"$runs/a9/state", s"$runs/a9/ck", cfg).awaitTermination()
    val streamed = ClusterTable.uiClusterList(
      StreamingPipeline.latestTable(s, s"$runs/a9/state")).collect().toSeq
    val batch = NewsPipeline.uiClusters(spark.newSession(), a.data).collect().toSeq
    if (streamed.nonEmpty && streamed == batch) None
    else Some(s"streamed ${streamed.size} rows vs batch ${batch.size} rows, equal=${streamed == batch}")
  }
}
