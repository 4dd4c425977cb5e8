package graft

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.operators.ClusterStore
import graft.streaming.{CdcConsumer, StreamingPipeline}

/** The micro-batch's execution contract: how many Spark jobs one
  * `processBatch` schedules, that it leaves no cache pinned on any exit
  * path, and that its configuration fails fast.
  */
class StreamingBatchSpec extends SparkSpec {
  import spark.implicits._

  /** One 500-article micro-batch shaped like a live feed: singletons
    * plus 8 syndicated stories of 7 copies each, so at threshold 5 the
    * inline summarize pass fires 8 clusters. Deterministic per `seed`. */
  private def feedBatch(seed: Long): DataFrame = {
    val rnd = new Random(seed)
    def word() = (1 to 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def text() = Seq.fill(40 + rnd.nextInt(40))(word()).mkString(" ")
    val stories = Seq.fill(8)(text())
    val syndicated = for ((t, s) <- stories.zipWithIndex; c <- 0 until 7)
      yield (s"b${seed}_s${s}_c$c", t, s"Story $s copy $c", "2024-01-01 10:00:00")
    val singles = (0 until 500 - syndicated.size).map(i =>
      (s"b${seed}_a$i", text(), s"Article $i", f"2024-01-02 ${i % 24}%02d:00:00"))
    (syndicated ++ singles).toDF("id", "text", "title", "date")
  }

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` and asserts it left no RDD persisted that was not
    * persisted before: no DataFrame cache, no checkpoint block. */
  private def leavesNothingPinned[T](body: => T): T = {
    val before = persistedIds
    val out = body
    assert(persistedIds -- before == Set.empty[Int], "processBatch left cached RDDs pinned")
    out
  }

  /** Jobs of the second of two feed batches (the first builds state). */
  private def secondBatchJobs(cfg: StreamingPipeline.Config): (Int, String) = {
    val state = Files.createTempDirectory("graft-batch-jobs").toString
    leavesNothingPinned(StreamingPipeline.processBatch(feedBatch(1L), 0L, state, cfg))
    val jobs = leavesNothingPinned(
      jobsOf(StreamingPipeline.processBatch(feedBatch(2L), 1L, state, cfg)))
    (jobs, state)
  }

  private def summarized(state: String): Long =
    StreamingPipeline.latestTable(spark, state)
      .filter($"row_type" === "metadata" && $"generated_summary" =!= "").count()

  // Jobs of the same batch before the merged table was built once per
  // batch, counted by this spec: inline 45, decoupled 27.
  private val SeedInlineJobs = 45
  private val SeedDecoupledJobs = 27

  test("inline micro-batch: fewer jobs than before, no cache left pinned") {
    val (jobs, state) = secondBatchJobs(StreamingPipeline.Config(threshold = 5))
    info(s"inline processBatch jobs: $jobs (was $SeedInlineJobs)")
    assert(jobs < SeedInlineJobs)
    // non-vacuous: both batches' 8 syndicated stories fired
    assert(summarized(state) == 16)
  }

  test("decoupled micro-batch (change feed, no inline summarize): fewer jobs " +
    "than before, no cache left pinned") {
    val (jobs, state) = secondBatchJobs(StreamingPipeline.Config(threshold = 5,
      inlineSummarize = false, emitCdc = true))
    info(s"decoupled processBatch jobs: $jobs (was $SeedDecoupledJobs)")
    assert(jobs < SeedDecoupledJobs)
    assert(summarized(state) == 0)
  }

  test("latestTable schedules no Spark job and reads the written schema") {
    val (_, state) = secondBatchJobs(StreamingPipeline.Config(threshold = 5))
    val inferred = spark.read.parquet(s"$state/table/v1")
    var table: DataFrame = null
    val jobs = jobsOf { table = StreamingPipeline.latestTable(spark, state) }
    info(s"latestTable jobs: $jobs (was 1 before the known schema)")
    assert(jobs == 0)
    // the known schema is the written one, column for column
    assert(table.schema.map(f => (f.name, f.dataType)) ==
      inferred.schema.map(f => (f.name, f.dataType)))
    assert(table.count() == inferred.count())
  }

  // Jobs of the same pass before its feed and overlay reads took the
  // known schema (one inference job per read), counted by this spec.
  private val SeedCdcJobs = 23

  test("CdcConsumer.runOnce over two pending versions: fewer jobs than before") {
    val state = Files.createTempDirectory("graft-cdc-jobs").toString
    val cfg = StreamingPipeline.Config(threshold = 5, inlineSummarize = false, emitCdc = true)
    StreamingPipeline.processBatch(feedBatch(1L), 0L, state, cfg)
    StreamingPipeline.processBatch(feedBatch(2L), 1L, state, cfg)
    val store = new ClusterStore(spark, s"$state/store")
    var consumed = Seq.empty[Long]
    val jobs = leavesNothingPinned(
      jobsOf { consumed = CdcConsumer.runOnce(spark, state, threshold = 5, store = Some(store)) })
    info(s"CdcConsumer.runOnce jobs: $jobs (was $SeedCdcJobs)")
    assert(consumed == Seq(0L, 1L))
    assert(jobs < SeedCdcJobs)
    // non-vacuous: both batches' 8 syndicated stories fired
    assert(summarized(state) == 16)
  }

  test("a batch that throws part-way through leaves no cache pinned") {
    val state = Files.createTempDirectory("graft-batch-throw").toString
    // a plain file where the change feed's directory belongs: the feed
    // write, after the pool and table versions are written, fails
    Files.writeString(Paths.get(state, "cdc"), "not a directory")
    leavesNothingPinned {
      intercept[Exception] {
        StreamingPipeline.processBatch(feedBatch(3L), 0L, state,
          StreamingPipeline.Config(threshold = 5, emitCdc = true))
      }
    }
    assert(Files.exists(Paths.get(state, "table", "v0", "_SUCCESS")),
      "the batch should fail after its table write, not before")
  }

  test("Config rejects retainVersions < 1, naming the field and the value") {
    val e = intercept[IllegalArgumentException](StreamingPipeline.Config(retainVersions = 0))
    assert(e.getMessage.contains("retainVersions") && e.getMessage.contains("got 0"))
    StreamingPipeline.Config(retainVersions = 1)
  }

  test("Config rejects non-positive batchShufflePartitions, naming the field and the value") {
    for (n <- Seq(0, -4)) {
      val e = intercept[IllegalArgumentException](
        StreamingPipeline.Config(batchShufflePartitions = Some(n)))
      assert(e.getMessage.contains("batchShufflePartitions") && e.getMessage.contains(s"got $n"))
    }
    StreamingPipeline.Config(batchShufflePartitions = Some(1))
  }

  test("a malformed SPARK_GRAFT_STREAM_SHUFFLE fails naming the variable") {
    val name = "SPARK_GRAFT_STREAM_SHUFFLE"
    assert(Bench.positiveIntEnv(Map.empty, name, 8) == 8)
    assert(Bench.positiveIntEnv(Map(name -> "16"), name, 8) == 16)
    for (bad <- Seq("eight", "", "0", "-2", "9999999999")) {
      val e = intercept[IllegalArgumentException](
        Bench.positiveIntEnv(Map(name -> bad), name, 8))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"))
    }
  }
}
