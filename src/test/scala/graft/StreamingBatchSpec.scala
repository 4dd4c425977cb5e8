package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ClusterStore, ClusterTable}
import graft.streaming.{CdcConsumer, StreamingPipeline}

/** The micro-batch's execution contract: how many Spark jobs one
  * `processBatch` schedules and how few classes it compiles, that it
  * leaves no cache pinned on any exit path and the session's conf as it
  * found it, and that its configuration fails fast.
  */
class StreamingBatchSpec extends SparkSpec {
  import spark.implicits._

  /** One 500-article micro-batch shaped like a live feed: singletons
    * plus 8 syndicated stories of 7 copies each, so at threshold 5 the
    * inline summarize pass fires 8 clusters. Deterministic per `seed`. */
  private def feedBatch(seed: Long, session: SparkSession = spark): DataFrame = {
    val rnd = new Random(seed)
    def word() = (1 to 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    def text() = Seq.fill(40 + rnd.nextInt(40))(word()).mkString(" ")
    val stories = Seq.fill(8)(text())
    val syndicated = for ((t, s) <- stories.zipWithIndex; c <- 0 until 7)
      yield (s"b${seed}_s${s}_c$c", t, s"Story $s copy $c", "2024-01-01 10:00:00")
    val singles = (0 until 500 - syndicated.size).map(i =>
      (s"b${seed}_a$i", text(), s"Article $i", f"2024-01-02 ${i % 24}%02d:00:00"))
    session.createDataFrame(syndicated ++ singles).toDF("id", "text", "title", "date")
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

  /** Generated classes Spark compiled while `body` ran, by the
    * codegen compile counter. A batch runs interpreted
    * (`SparkHygiene.withBatchExecution`); this count is what shows the
    * Spark-internal conf behind that still takes effect. */
  private def compilesOf(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Most generated classes a batch or a consumer pass may compile. With
    * codegen the second feed batch compiled ~200: its working set of
    * ~150 classes overflows Spark's 100-entry class cache every batch. */
  private val MaxCompiles = 10

  /** Jobs and compiled classes of the second of two feed batches (the
    * first builds state). */
  private def secondBatch(cfg: StreamingPipeline.Config): (Int, Long, String) = {
    val state = Files.createTempDirectory("graft-batch-jobs").toString
    leavesNothingPinned(StreamingPipeline.processBatch(feedBatch(1L), 0L, state, cfg))
    val batch = feedBatch(2L)
    var jobs = 0
    val compiles = compilesOf {
      jobs = leavesNothingPinned(jobsOf(StreamingPipeline.processBatch(batch, 1L, state, cfg)))
    }
    (jobs, compiles, state)
  }

  /** Part files of the pool and table versions both feed batches wrote. */
  private def partFiles(state: String): Map[String, Int] =
    (for (base <- Seq("pool", "table"); v <- Seq(0, 1)) yield
      s"$base/v$v" -> Files.list(Paths.get(state, base, s"v$v")).iterator.asScala
        .count(_.getFileName.toString.startsWith("part-"))).toMap

  /** Asserts no version has more files than the distributed merge wrote. */
  private def noMoreFilesThan(was: Map[String, Int], state: String): Unit = {
    val files = partFiles(state)
    info(s"part files: $files (was $was)")
    was.foreach { case (v, n) => assert(files(v) <= n, s"$v: ${files(v)} files, was $n") }
  }

  private def summarized(state: String): Long =
    StreamingPipeline.latestTable(spark, state)
      .filter($"row_type" === "metadata" && $"generated_summary" =!= "").count()

  // Jobs of the same batch before the merged table was built once per
  // batch, counted by this spec: inline 45, decoupled 27.
  private val SeedInlineJobs = 45
  private val SeedDecoupledJobs = 27

  // Part files of the feed batches' versions when the clustering merge
  // ran as a distributed dataflow (inline 24 jobs, decoupled 19).
  private val DistributedMergeInlineFiles =
    Map("pool/v0" -> 5, "pool/v1" -> 6, "table/v0" -> 2, "table/v1" -> 4)
  private val DistributedMergeDecoupledFiles =
    Map("pool/v0" -> 5, "pool/v1" -> 6, "table/v0" -> 1, "table/v1" -> 2)

  test("inline micro-batch: fewer jobs than before, no cache left pinned") {
    val (jobs, compiles, state) = secondBatch(StreamingPipeline.Config(threshold = 5))
    info(s"inline processBatch jobs: $jobs (was $SeedInlineJobs), compiled classes: $compiles")
    assert(jobs == 16)
    assert(compiles <= MaxCompiles)
    noMoreFilesThan(DistributedMergeInlineFiles, state)
    // non-vacuous: both batches' 8 syndicated stories fired
    assert(summarized(state) == 16)
  }

  test("decoupled micro-batch (change feed, no inline summarize): fewer jobs " +
    "than before, no cache left pinned") {
    val (jobs, compiles, state) = secondBatch(StreamingPipeline.Config(threshold = 5,
      inlineSummarize = false, emitCdc = true))
    info(s"decoupled processBatch jobs: $jobs (was $SeedDecoupledJobs), " +
      s"compiled classes: $compiles")
    assert(jobs == 11)
    assert(compiles <= MaxCompiles)
    noMoreFilesThan(DistributedMergeDecoupledFiles, state)
    assert(summarized(state) == 0)
  }

  test("latestTable schedules no Spark job and reads the written schema") {
    val (_, _, state) = secondBatch(StreamingPipeline.Config(threshold = 5))
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
    var jobs = 0
    val compiles = compilesOf {
      jobs = leavesNothingPinned(
        jobsOf { consumed = CdcConsumer.runOnce(spark, state, threshold = 5, store = Some(store)) })
    }
    info(s"CdcConsumer.runOnce jobs: $jobs (was $SeedCdcJobs), compiled classes: $compiles")
    assert(consumed == Seq(0L, 1L))
    assert(jobs == 20)
    assert(compiles <= MaxCompiles)
    // non-vacuous: both batches' 8 syndicated stories fired
    assert(summarized(state) == 16)
  }

  test("a batch that throws part-way through leaves no cache pinned") {
    val state = Files.createTempDirectory("graft-batch-throw").toString
    // a plain file where the change feed's directory belongs: the feed
    // write, after the pool and table versions are written, fails
    Files.writeString(Paths.get(state, "cdc"), "not a directory")
    val conf = spark.conf.getAll
    leavesNothingPinned {
      intercept[Exception] {
        StreamingPipeline.processBatch(feedBatch(3L), 0L, state,
          StreamingPipeline.Config(threshold = 5, emitCdc = true))
      }
    }
    assert(Files.exists(Paths.get(state, "table", "v0", "_SUCCESS")),
      "the batch should fail after its table write, not before")
    assert(spark.conf.getAll == conf)
  }

  /** The keys the batch execution discipline sets. */
  private val BatchKeys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.codegen.factoryMode")

  /** The a9 pipeline's input, 80 documents (16 per batch); returns the
    * directory `NewsPipeline.run` reads. */
  private def a9Docs(session: SparkSession = spark): String = {
    val docs = Files.createTempDirectory("graft-batch-docs").toString
    session.createDataFrame((0L until 80L).map(i => (i, s"document $i text")))
      .toDF("doc_id", "text").write.parquet(s"$docs/documents.parquet")
    docs
  }

  /** Id of the RDD a `localCheckpoint`'d frame keeps persisted. */
  private def checkpointId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    case other => fail(s"not a checkpoint: ${other.getClass.getSimpleName}")
  }

  /** Order-free digest of a table's rows, every column included: row
    * count and two hash sums. */
  private def digest(df: DataFrame): (Long, BigDecimal, BigDecimal) = {
    val cols = df.columns.map(col)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"),
        hash(cols: _*).cast("decimal(38,0)").as("g"))
      .agg(count(lit(1)), sum("h"), sum("g")).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
  }

  // Jobs of NewsPipeline.run on the 80 documents when it had a batch
  // body of its own, counted by this spec. The shared core checkpoints
  // the upsert rows, which the merge's broadcast and union each rebuilt.
  private val SeedA9Jobs = 84
  private val A9Jobs = 74

  test("NewsPipeline.run: pinned job count, and only the returned table stays pinned") {
    val docs = a9Docs()
    val before = persistedIds
    var table: DataFrame = null
    val jobs = jobsOf { table = NewsPipeline.run(spark, docs) }
    info(s"NewsPipeline.run jobs: $jobs (was $SeedA9Jobs)")
    try {
      assert(jobs == A9Jobs)
      assert(persistedIds -- before == Set(checkpointId(table)))
    } finally SparkHygiene.freeCheckpoint(table)
  }

  test("NewsPipeline.run that throws part-way through leaves nothing pinned") {
    val docs = a9Docs()
    // the documents vanish half-way through the run, so a later batch's
    // read of them fails
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (started.incrementAndGet() == A9Jobs / 2)
          Files.list(Paths.get(docs, "documents.parquet")).iterator.asScala.foreach(Files.delete)
    }
    val before = persistedIds
    spark.sparkContext.addSparkListener(listener)
    try intercept[Exception](NewsPipeline.run(spark, docs))
    finally {
      drainListenerBus()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(started.get() > A9Jobs / 2 && started.get() < A9Jobs,
      s"the run should fail part-way, after ${started.get()} of $A9Jobs jobs")
    assert(persistedIds -- before == Set.empty[Int], "NewsPipeline.run left RDDs pinned")
  }

  test("NewsPipeline.uiClusters pins nothing and gives uiClusterList's rows, schema and order") {
    val docs = a9Docs()
    val before = persistedIds
    val ui = NewsPipeline.uiClusters(spark, docs)
    val got = ui.collect().toSeq
    assert(persistedIds -- before == Set.empty[Int], "uiClusters left RDDs pinned")
    val table = NewsPipeline.run(spark, docs)
    try {
      val want = ClusterTable.uiClusterList(table)
      assert(ui.schema == want.schema)
      assert(got == want.collect().toSeq)
      assert(got.nonEmpty)
    } finally SparkHygiene.freeCheckpoint(table)
  }

  test("the a9 corpus gives the same table through NewsPipeline.run and processBatch") {
    val docs = a9Docs()
    val batched = NewsPipeline.run(spark, docs)
    val state = Files.createTempDirectory("graft-batch-a9").toString
    val arts = NewsPipeline.syntheticArticles(Tables.documents(spark, docs))
    for (b <- 0 until NewsPipeline.Batches)
      StreamingPipeline.processBatch(arts.filter($"batch" === b).drop("grp", "batch"),
        b.toLong, state, NewsPipeline.BatchConfig)
    try {
      assert(digest(StreamingPipeline.latestTable(spark, state)) == digest(batched))
      // non-vacuous: each planted group is one cluster, summarized
      assert(batched.filter($"row_type" === "metadata" && $"generated_summary" =!= "" &&
        $"summary_count" > 0).count() == NewsPipeline.Groups)
    } finally SparkHygiene.freeCheckpoint(batched)
  }

  /** Runs a decoupled feed batch, a consumer pass over its feed and the
    * a9 batch pipeline on a fresh session whose batch keys are `preset`
    * (None: unset), and asserts each call leaves `getAll` as it was. */
  private def leavesConfAsFound(preset: Map[String, Option[String]]): Unit = {
    val s = spark.newSession()
    GraftExtensions.register(s)
    val docs = a9Docs(s)
    preset.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    val conf = s.conf.getAll
    preset.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    def unchanged(what: String)(body: => Unit): Unit = {
      body
      assert(s.conf.getAll == conf, s"$what changed the session conf")
    }
    val state = Files.createTempDirectory("graft-batch-conf").toString
    unchanged("processBatch") {
      StreamingPipeline.processBatch(feedBatch(4L, s), 0L, state, StreamingPipeline.Config(
        threshold = 5, inlineSummarize = false, emitCdc = true,
        batchShufflePartitions = Some(2)))
    }
    unchanged("CdcConsumer.runOnce") {
      assert(CdcConsumer.runOnce(s, state, threshold = 5) == Seq(0L))
    }
    unchanged("NewsPipeline.run") {
      val table = NewsPipeline.run(s, docs)
      assert(table.filter($"row_type" === "metadata").count() == NewsPipeline.Groups)
      SparkHygiene.freeCheckpoint(table)
    }
  }

  test("processBatch, CdcConsumer.runOnce and NewsPipeline.run leave unset conf keys unset") {
    leavesConfAsFound(BatchKeys.map(_ -> None).toMap)
  }

  test("processBatch, CdcConsumer.runOnce and NewsPipeline.run restore preset conf keys") {
    leavesConfAsFound(Map(
      "spark.sql.shuffle.partitions" -> Some("3"),
      "spark.sql.adaptive.enabled" -> Some("true"),
      "spark.sql.codegen.factoryMode" -> Some("FALLBACK")))
  }

  test("CdcConsumer.stream runs its passes on the stream's session, not the caller's") {
    val s = spark.newSession()
    GraftExtensions.register(s)
    val state = Files.createTempDirectory("graft-batch-stream").toString
    StreamingPipeline.processBatch(feedBatch(5L, s), 0L, state, StreamingPipeline.Config(
      threshold = 5, inlineSummarize = false, emitCdc = true))
    // the caller's factory mode, sampled at each job start while the
    // stream runs: the caller keeps serving reads on its session then
    val seen = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(s.conf.getAll.get("spark.sql.codegen.factoryMode"))
    }
    spark.sparkContext.addSparkListener(listener)
    try CdcConsumer.stream(s, state, s"$state-ck", threshold = 5).awaitTermination()
    finally {
      drainListenerBus()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(CdcConsumer.pending(s, state).isEmpty, "the stream should consume the feed")
    assert(!seen.isEmpty && seen.asScala.forall(_.isEmpty),
      s"the caller's session ran part of the pass interpreted: ${seen.asScala.toSeq.distinct}")
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
