package newsbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{ClusterStore, ClusterTable}
import graft.streaming.{CdcConsumer, StreamingPipeline, TracedBatch}

/** The write and read sides of one news feed, driven the way a
  * deployment drives them: a file-drop stream drained with
  * `Trigger.AvailableNow`, then the UI's reads against the state it left.
  */
object Feed {

  /** One drain of a corpus into fresh state.
    *
    * @param seconds   stream start → last version committed (the
    *                  decoupled path ends at the last summarized overlay)
    * @param lagS      producer termination → consumer drained (0 inline)
    * @param batchMs   `triggerExecution` of every micro-batch, in order
    */
  final case class Drain(seconds: Double, lagS: Double, valid: Int, batchMs: Seq[Double],
                         commitMs: Seq[Double], planningMs: Seq[Double])

  private def source(s: SparkSession, inDir: String): DataFrame =
    s.readStream.schema(Corpus.schema).option("maxFilesPerTrigger", "1").json(inDir)

  /** Drain `inDir` into `runDir/state`. With a tracer, the micro-batches
    * go through [[TracedBatch]] and the consumer passes through spans. */
  def drain(s: SparkSession, progress: Progress, inDir: String, runDir: String,
            cfg: StreamingPipeline.Config, valid: Int, tracer: Option[Tracer] = None): Drain = {
    val state = s"$runDir/state"
    val t0 = System.nanoTime()
    val q = tracer match {
      case None => StreamingPipeline.start(source(s, inDir), state, s"$runDir/ck", cfg)
      case Some(t) =>
        source(s, inDir).writeStream
          .option("checkpointLocation", s"$runDir/ck")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) => TracedBatch.process(b, id, state, cfg, t) }
          .start()
    }
    q.awaitTermination()
    val t1 = System.nanoTime()
    if (cfg.emitCdc && !cfg.inlineSummarize) tracer match {
      case None =>
        CdcConsumer.stream(s, state, s"$runDir/ck2", threshold = cfg.threshold)
          .awaitTermination()
      case Some(t) =>
        // CdcConsumer.stream's own query, with the pass inside a span
        s.readStream.schema(graft.schemas.Schemas.clusters).parquet(s"$state/cdc/*")
          .writeStream
          .option("checkpointLocation", s"$runDir/ck2")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (_: DataFrame, id: Long) =>
            val before = Files.bytes(s"$state/table")
            val versions = t.span(id, "CdcConsumer") {
              CdcConsumer.runOnce(s, state, cfg.threshold)
            }
            t.record("CdcConsumer.versions", versions.size.toDouble)
            t.record("CdcConsumer.bytes_written", (Files.bytes(s"$state/table") - before).toDouble)
          }
          .start().awaitTermination()
    }
    val t2 = System.nanoTime()
    Census.drain(s.sparkContext)
    val trig = progress.of(q.id)
    def d(keys: String*) = trig.map(tr => keys.map(tr.durations.getOrElse(_, 0L)).sum.toDouble)
    Drain((t2 - t0) / 1e9, (t2 - t1) / 1e9, valid, d("triggerExecution"),
      d("walCommit", "commitOffsets"), d("latestOffset", "getBatch", "queryPlanning"))
  }

  /** Latency samples of the UI's reads. */
  final case class Reads(listMs: Seq[Double], lookupMs: Seq[Double], listRows: Int,
                         attempted: Int, failed: Int)

  val ListsPerCycle = 2
  val WarmupLookups = 8

  /** Build the serving table from the final clusters table and return
    * the cluster keys the UI looks up: the summarized clusters, or every
    * cluster when none is summarized yet. */
  def serve(s: SparkSession, state: String, storeDir: String): (ClusterStore, IndexedSeq[String]) = {
    val truth = StreamingPipeline.latestTable(s, state)
    val store = new ClusterStore(s, storeDir)
    store.rebuildBucketsFor(truth, truth)
    val meta = truth.filter(col("row_type") === "metadata")
    val fired = meta.filter(col("generated_summary") =!= "")
    val keys = (if (fired.isEmpty) meta else fired).select("PK").collect().map(_.getString(0)).sorted
    (store, keys.toIndexedSeq)
  }

  /** A closed loop of one client: `cycles` × ([[ListsPerCycle]] UI
    * lists, then `lookupsPerCycle` point lookups of seeded random
    * clusters). One list and [[WarmupLookups]] lookups come first as
    * warm-up and are not recorded. */
  def reads(s: SparkSession, state: String, store: ClusterStore, keys: IndexedSeq[String],
            rng: scala.util.Random, cycles: Int, lookupsPerCycle: Int,
            tracer: Option[Tracer] = None): Reads = {
    var attempted = 0
    var failed = 0
    var listRows = 0
    val listMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lookupMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def timed(out: Option[scala.collection.mutable.ArrayBuffer[Double]])(f: => Unit): Unit = {
      if (out.isDefined) attempted += 1
      val t0 = System.nanoTime()
      try {
        f
        out.foreach(_ += (System.nanoTime() - t0) / 1e6)
      } catch { case scala.util.control.NonFatal(e) =>
        if (out.isDefined) failed += 1
        System.err.println(s"[newsbench] read failed: $e")
      }
    }
    var op = -1L // warm-up spans carry op -1 and are left out of the metrics
    def list(): Unit = tracer match {
      case None =>
        listRows = ClusterTable.uiClusterList(StreamingPipeline.latestTable(s, state)).collect().length
      case Some(t) =>
        t.span(op, "read.list") {
          val table = t.span(op, "latestTable", "read.list")(StreamingPipeline.latestTable(s, state))
          listRows = t.span(op, "uiClusterList", "read.list")(
            ClusterTable.uiClusterList(table).collect().length)
        }
    }
    def lookup(pk: String): Unit = tracer match {
      case None => store.cluster(pk).collect()
      case Some(t) => t.span(op, "ClusterStore.lookup")(store.cluster(pk).collect())
    }
    timed(None)(list())
    for (i <- 0 until WarmupLookups) timed(None)(lookup(keys(i % keys.size)))
    op = 0L
    for (_ <- 0 until cycles) {
      for (_ <- 0 until ListsPerCycle) {
        op += 1
        timed(Some(listMs))(list())
      }
      for (_ <- 0 until lookupsPerCycle) {
        op += 1
        val pk = keys(rng.nextInt(keys.size))
        timed(Some(lookupMs))(lookup(pk))
      }
    }
    Reads(listMs.toList, lookupMs.toList, listRows, attempted, failed)
  }
}
