package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Interleaved A/B probe for the streaming-wrapper figure (guide §1.1):
  * the EXACT Bench.runStreaming dataflow — synthetic articles dropped as
  * one JSON file per micro-batch, StreamingPipeline AvailableNow drain,
  * versioned parquet state — run with a configurable STATEFUL-SHUFFLE
  * partition count (the streamStateSession knob the catalog drains have
  * had since r13, never applied to the wrapper: VERDICT r14 #1 — the c32
  * official draws were 160-388 s where c8 ran the identical code in
  * 69.9 s). Draws interleave (32,8,32,8,…) so box drift reads as a wide
  * band, not a fake delta; a job listener attributes the wall to job
  * descriptions per draw.
  *
  *   sbt -batch "Test/runMain graft.StreamWrapProbe [sfDir] [parts,parts,...] [decoupled]"
  */
object StreamWrapProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    // spec: "<parts>[n]" — trailing 'n' disables AQE for that draw
    // (the a9 loop's measured discipline, never applied to the wrapper)
    val plan = (if (args.length > 1) args(1) else "32,8,32,8")
      .split(",").map(_.trim).map { s =>
        if (s.endsWith("n")) (s.dropRight(1).toInt, false) else (s.toInt, true)
      }.toSeq
    val decoupled = args.length > 2 && args(2) == "decoupled"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)

    final case class J(desc: String, start: Long, var end: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = e.stageInfos.headOption.map(_.name).getOrElse("?")
        jobs.put(e.jobId, J(d, e.time, -1L))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = e.time
      }
    })

    def runOnce(partitions: Int, aqe: Boolean): Double = {
      val tmp = java.nio.file.Files.createTempDirectory("wrap_probe")
      try {
        val inDir = s"$tmp/in"
        val arts = NewsPipeline.syntheticArticles(
          spark.read.parquet(s"$sfDir/documents.parquet"))
        for (b <- 0 until NewsPipeline.Batches)
          arts.filter(col("batch") === b).drop("grp", "batch")
            .coalesce(1).write.mode("append").json(inDir)
        val schema = arts.drop("grp", "batch").schema
        val s2 = SparkHygiene.streamStateSession(spark, partitions)
        s2.conf.set("spark.sql.adaptive.enabled", aqe.toString)
        val cfg = NewsPipeline.BatchConfig.copy(inlineSummarize = !decoupled,
          emitCdc = decoupled, batchShufflePartitions = Some(partitions), batchAdaptive = aqe)
        val t0 = System.nanoTime()
        streaming.StreamingPipeline.start(
          s2.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").json(inDir),
          s"$tmp/state", s"$tmp/ck", cfg)
          .awaitTermination()
        if (decoupled)
          streaming.CdcConsumer.stream(s2, s"$tmp/state", s"$tmp/ck2", cfg.threshold)
            .awaitTermination()
        (System.nanoTime() - t0) / 1e9
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try {
          val walk = Files.walk(tmp)
          try walk.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[wrapprobe] cleanup failed: $e")
        }
      }
    }

    plan.zipWithIndex.foreach { case ((p, aqe), i) =>
      jobs.clear()
      val sec = runOnce(p, aqe)
      SparkHygiene.dropAllPersisted(spark)
      import scala.jdk.CollectionConverters._
      val done = jobs.values.asScala.filter(_.end > 0).toSeq
      val jobWall = done.map(j => j.end - j.start).sum / 1e3
      println(f"[wrapprobe] draw=$i parts=$p%2d aqe=$aqe%5s wall=$sec%.2f s " +
        f"jobs=${done.size} job_wall_sum=$jobWall%.2f s")
      val byDesc = done.groupBy(_.desc).map { case (d, js) =>
        (d, js.size, js.map(j => j.end - j.start).sum / 1e3)
      }.toSeq.sortBy(-_._3).take(12)
      byDesc.foreach { case (d, n, tot) =>
        println(f"[wrapprobe]     n=$n%3d total=$tot%7.2f s  ${d.take(110)}")
      }
    }
    spark.stop()
  }
}
