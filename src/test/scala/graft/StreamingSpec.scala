package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{CdcConsumer, StreamingPipeline}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeArticles(dir: String, name: String, arts: Seq[(String, String, String, String)]): Unit = {
    val json = arts.map { case (id, text, title, date) =>
      s"""{"id":"$id","text":"$text","title":"$title","date":"$date"}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), json)
  }

  private def streamOnce(srcDir: String, stateDir: String, ckptDir: String): Unit = {
    val articles = spark.readStream
      .schema(graft.schemas.Schemas.rawArticle)
      .option("maxFilesPerTrigger", "1") // one file = one micro-batch
      .json(srcDir)
    val q = StreamingPipeline.start(articles, stateDir, ckptDir,
      StreamingPipeline.Config(threshold = 2))
    awaitDone(q)
  }

  /** AvailableNow queries terminate on their own; a bounded wait that
    * silently falls through leaves EMPTY state behind and fails the
    * test on a confusing downstream assert (flaked once under full-
    * suite load at the old 120 s bound). Wait long, then fail HERE if
    * the stream is genuinely stuck.
    */
  private def awaitDone(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val finished = q.awaitTermination(600000)
    if (!finished) q.stop()
    assert(finished, "streaming query did not terminate within 600 s")
  }

  private def tableIds(stateDir: String): Set[String] =
    StreamingPipeline.latestTable(spark, stateDir)
      .filter(col("row_type") === "article")
      .select("article_id").as[String].collect().toSet

  test("ST1/ST3: file-source micro-batches cluster incrementally; " +
    "restart from checkpoint processes only new files") {
    val root = Files.createTempDirectory("graft-stream").toString
    val src = s"$root/src"; val state = s"$root/state"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(src))

    // batch 1: two near articles (same planted token) + one far, plus a
    // malformed line the P10 guard must drop
    writeArticles(src, "b1.json", Seq(
      ("a1", "alpha alpha alpha alpha", "A one", "2024-01-01 10:00:00"),
      ("a2", "alpha alpha alpha alpha x", "A two", "2024-01-01 11:00:00"),
      ("z1", "omega omega omega omega", "Z one", "2024-01-01 12:00:00")))
    Files.writeString(Paths.get(src, "b1.json"),
      Files.readString(Paths.get(src, "b1.json")) + "\n{\"id\":\"broken\",no")
    streamOnce(src, state, ckpt)
    assert(tableIds(state) == Set("a1", "a2", "z1"))
    val t1 = StreamingPipeline.latestTable(spark, state)
    val meta1 = t1.filter(col("row_type") === "metadata")
      .select("PK", "is_cluster").as[(String, Boolean)].collect().toMap
    assert(meta1.values.count(identity) == 1) // alpha-cluster only

    // "kill" (stream already terminated) then add a new file and restart
    // with the SAME checkpoint: only b2 is processed, and its article
    // joins the existing alpha cluster from restored state
    writeArticles(src, "b2.json", Seq(
      ("a3", "alpha alpha alpha alpha y", "A three", "2024-01-02 10:00:00")))
    streamOnce(src, state, ckpt)
    assert(tableIds(state) == Set("a1", "a2", "a3", "z1"))
    val t2 = StreamingPipeline.latestTable(spark, state)
    val alphaPk = graft.operators.Clustering.clusterIdFor("a1")
    val alphaArts = t2.filter(col("row_type") === "article" && col("PK") === alphaPk)
      .select("article_id").as[String].collect().toSet
    assert(alphaArts == Set("a1", "a2", "a3")) // cross-restart merge

    // the retained version 0 time-travels to the pre-restart state
    val ids0 = spark.read.parquet(s"$state/table/v0").filter(col("row_type") === "article")
      .select("article_id").as[String].collect().toSet
    assert(ids0 == Set("a1", "a2", "z1"),
      "table v0 must time-travel to the pre-restart state")
  }

  test("A5 pool stats surface as observed metrics on the state write") {
    val root = Files.createTempDirectory("graft-obs").toString
    @volatile var seen: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        qe.observedMetrics.get("graft_pool_stats").foreach(r => seen = Some(r))
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val batch = Seq(
        ("a1", "alpha alpha alpha alpha", "A one", "2024-01-01 10:00:00"),
        ("a2", "alpha alpha alpha alpha x", "A two", "2024-01-01 11:00:00"),
        ("z1", "omega omega omega omega", "Z one", "2024-01-01 12:00:00")
      ).toDF("id", "text", "title", "date")
      StreamingPipeline.processBatch(batch, 0L, s"$root/state",
        StreamingPipeline.Config(threshold = 2))
      // listener callbacks are delivered asynchronously on the bus
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.isDefined, "no graft_pool_stats metrics observed")
      val r = seen.get
      // alpha pair merges to one cluster entry; omega stays a singleton
      assert(r.getAs[Long]("n_clusters") == 1L)
      assert(r.getAs[Long]("n_singletons") == 1L)
      assert(r.getAs[Long]("total_articles") == 3L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("S14 CDC feed + serving-store sink track each batch's upserts") {
    val root = Files.createTempDirectory("graft-cdc").toString
    val state = s"$root/state"
    val store = new graft.operators.ClusterStore(spark, s"$root/serve", nBuckets = 8)
    val cfg = StreamingPipeline.Config(threshold = 2, emitCdc = true,
      servingStore = Some(store))
    val b0 = Seq(("c1", "gamma gamma gamma", "G1", "2024-01-01 10:00:00"),
      ("c2", "gamma gamma gamma x", "G2", "2024-01-01 11:00:00"))
      .toDF("id", "text", "title", "date")
    StreamingPipeline.processBatch(b0, 0L, state, cfg)
    val b1 = Seq(("c3", "delta delta delta", "D1", "2024-01-02 10:00:00"))
      .toDF("id", "text", "title", "date")
    StreamingPipeline.processBatch(b1, 1L, state, cfg)

    // CDC: per-batch change feed holds exactly that batch's upsert rows
    val cdc0 = spark.read.parquet(s"$state/cdc/v0")
    val cdc1 = spark.read.parquet(s"$state/cdc/v1")
    assert(cdc0.filter(col("row_type") === "article").count() == 2)
    assert(cdc1.filter(col("row_type") === "article")
      .select("article_id").as[String].collect().toSeq == Seq("c3"))

    // serving store converges to the same table as the versioned state
    val served = store.read().select("PK", "SK").as[(String, String)].collect().toSet
    val truth = StreamingPipeline.latestTable(spark, state)
      .select("PK", "SK").as[(String, String)].collect().toSet
    assert(served == truth)
  }

  test("S14: decoupled CDC consumer drives summarization; table converges to the inline path") {
    val root = Files.createTempDirectory("graft-cdc-consumer").toString
    val batches = Seq(
      Seq(("m1", "mu mu mu mu", "M1", "2024-01-01 10:00:00"),
        ("m2", "mu mu mu mu x", "M2", "2024-01-01 11:00:00"),
        ("n1", "nu nu nu nu", "N1", "2024-01-01 12:00:00")),
      Seq(("m3", "mu mu mu mu y", "M3", "2024-01-02 10:00:00")))

    // inline reference run
    val inlineState = s"$root/inline"
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingPipeline.processBatch(b.toDF("id", "text", "title", "date"),
        i.toLong, inlineState, StreamingPipeline.Config(threshold = 2))
    }
    val inline = StreamingPipeline.latestTable(spark, inlineState)
      .orderBy("PK", "SK").collect().toSeq

    // decoupled run: batches publish UN-summarized versions + the feed;
    // the consumer alone drives summarizePass from cdc/v<N>
    val state = s"$root/decoupled"
    val cfg = StreamingPipeline.Config(threshold = 2,
      emitCdc = true, inlineSummarize = false)
    StreamingPipeline.processBatch(
      batches(0).toDF("id", "text", "title", "date"), 0L, state, cfg)
    // before the consumer runs: no summaries anywhere — summarization
    // really is exclusively feed-driven
    val preSum = StreamingPipeline.latestTable(spark, state)
      .filter(col("row_type") === "metadata" && col("generated_summary") =!= "")
    assert(preSum.isEmpty, "summaries appeared without the consumer")
    assert(CdcConsumer.runOnce(spark, state, threshold = 2) == Seq(0L))
    StreamingPipeline.processBatch(
      batches(1).toDF("id", "text", "title", "date"), 1L, state, cfg)
    assert(CdcConsumer.runOnce(spark, state, threshold = 2) == Seq(1L))

    val decoupled = StreamingPipeline.latestTable(spark, state)
      .orderBy("PK", "SK").collect().toSeq
    assert(decoupled == inline)
    // non-vacuous: the mu-cluster crossed the threshold and got summarized
    assert(inline.exists(r =>
      r.getAs[String]("row_type") == "metadata" &&
        r.getAs[String]("generated_summary").nonEmpty))

    // drained feed: a second consume is a no-op, consumed versions are
    // marked so replays can't double-summarize
    assert(CdcConsumer.runOnce(spark, state, threshold = 2).isEmpty)
    assert(CdcConsumer.pending(spark, state).isEmpty)
  }

  test("CdcConsumer mass-fire pass stays distributed: 40 clusters cross " +
    "the trigger in ONE pass and the serving store refresh is driven by " +
    "the fired frame (no per-PK driver round-trip), converging to truth") {
    // r9 review hardening: the fired-PK set used to be collected to the
    // driver — bounded per pass but unbounded at 100× volume. The pass
    // now ships only a COUNT to the driver; this spec fires every
    // cluster at once so any future reintroduction of a per-PK driver
    // path has to carry the whole set to pass.
    val root = Files.createTempDirectory("graft-cdc-mass").toString
    val state = s"$root/state"
    val store = new graft.operators.ClusterStore(spark, s"$root/serve", nBuckets = 8)
    val cfg = StreamingPipeline.Config(threshold = 1,
      emitCdc = true, inlineSummarize = false)
    val docs = (1 to 40).map { i =>
      (s"doc$i", s"word$i word$i word$i word$i", s"T$i",
        f"2024-01-01 ${i % 24}%02d:00:00")
    }
    StreamingPipeline.processBatch(
      docs.toDF("id", "text", "title", "date"), 0L, state, cfg)
    assert(CdcConsumer.runOnce(spark, state, threshold = 1,
      store = Some(store)) == Seq(0L))

    val truth = StreamingPipeline.latestTable(spark, state)
    val truthMeta = truth.filter(col("row_type") === "metadata")
    // every singleton cluster fired and got summarized in the one pass
    assert(truthMeta.count() == 40)
    assert(truthMeta.filter(col("generated_summary") === "").isEmpty,
      "a fired cluster missed summarization")
    // the serving store converges to the overlay truth — the refresh
    // path works at whatever size the fired set is
    val served = store.read().select("PK", "SK").as[(String, String)]
      .collect().toSet
    val expect = truth.select("PK", "SK").as[(String, String)].collect().toSet
    assert(served == expect)
  }

  test("CdcConsumer overlays: partial overlays invisible, " +
    "replay after a lost marker is monotone (no double summarization)") {
    val root = Files.createTempDirectory("graft-cdc-overlay").toString
    val state = s"$root/state"
    val cfg = StreamingPipeline.Config(threshold = 2,
      emitCdc = true, inlineSummarize = false)
    StreamingPipeline.processBatch(Seq(
      ("o1", "phi phi phi phi", "P1", "2024-01-01 10:00:00"),
      ("o2", "phi phi phi phi x", "P2", "2024-01-01 11:00:00"))
      .toDF("id", "text", "title", "date"), 0L, state, cfg)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // the pass publishes the summarized overlay WITHOUT touching v0
    assert(CdcConsumer.runOnce(spark, state, threshold = 2) == Seq(0L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/table/v0/_SUCCESS")),
      "base version must never be deleted")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/table/v0s/_SUCCESS")))
    val summarized = StreamingPipeline.latestTable(spark, state)
      .orderBy("PK", "SK").collect().toSeq
    assert(summarized.exists(r => r.getAs[String]("row_type") == "metadata" &&
      r.getAs[String]("generated_summary").nonEmpty))
    // the base version stays un-summarized — the overlay is what readers see
    assert(spark.read.parquet(s"$state/table/v0")
      .filter(col("generated_summary") =!= "").isEmpty)

    // an uncommitted overlay for a newer version is invisible to readers
    spark.read.parquet(s"$state/table/v0").write.parquet(s"$state/table/v5s")
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/table/v5s/_SUCCESS"), false)
    assert(StreamingPipeline.latestTable(spark, state)
      .orderBy("PK", "SK").collect().toSeq == summarized)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/table/v5s"), true)

    // crash between overlay commit and marker write: the feed replays,
    // but the chained overlay input keeps the pass monotone — same
    // table, summary_count not bumped twice
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/cdc_done/v0"), true)
    assert(CdcConsumer.runOnce(spark, state, threshold = 2) == Seq(0L))
    val replayed = StreamingPipeline.latestTable(spark, state)
      .orderBy("PK", "SK").collect().toSeq
    assert(replayed == summarized)
    assert(replayed.collect {
      case r if r.getAs[String]("row_type") == "metadata" &&
        r.getAs[String]("generated_summary").nonEmpty => r.getAs[Int]("summary_count")
    }.forall(_ == 1))
  }

  test("the streaming state keeps no pointer log: latestTable lists the " +
    "committed versions and serves the newest committed overlay pass") {
    val root = Files.createTempDirectory("graft-no-pointers").toString
    val state = s"$root/state"
    val cfg = StreamingPipeline.Config(threshold = 2,
      emitCdc = true, inlineSummarize = false)
    StreamingPipeline.processBatch(Seq(
      ("k1", "tau tau tau tau", "K1", "2024-01-01 10:00:00"),
      ("k2", "tau tau tau tau x", "K2", "2024-01-01 11:00:00"))
      .toDF("id", "text", "title", "date"), 0L, state, cfg)
    StreamingPipeline.processBatch(Seq(
      ("k3", "tau tau tau tau y", "K3", "2024-01-02 10:00:00"),
      ("u1", "upsilon upsilon upsilon", "U1", "2024-01-02 11:00:00"))
      .toDF("id", "text", "title", "date"), 1L, state, cfg)
    assert(CdcConsumer.runOnce(spark, state, threshold = 2) == Seq(0L, 1L))
    assert(!Files.exists(Paths.get(state, "table", "_snapshots")),
      "the engine's state must not publish a snapshot pointer log")
    // the pass folded both feeds into table v1's first overlay pass
    assert(Files.exists(Paths.get(state, "table", "v1s", "_SUCCESS")))
    def sorted(df: DataFrame) = df.orderBy("PK", "SK").collect().toSeq
    val overlay = sorted(spark.read.schema(graft.schemas.Schemas.clusters)
      .parquet(s"$state/table/v1s"))
    assert(sorted(StreamingPipeline.latestTable(spark, state)) == overlay)
    // non-vacuous: the overlay differs from its base by the summary
    assert(overlay.exists(r => r.getAs[String]("row_type") == "metadata" &&
      r.getAs[String]("generated_summary").nonEmpty))
    assert(sorted(spark.read.schema(graft.schemas.Schemas.clusters)
      .parquet(s"$state/table/v1")) != overlay)
  }

  test("CdcConsumer passes are non-destructive for in-flight readers: a " +
    "pre-existing overlay pass survives the next pass (grace window), " +
    "newer passes outrank older, and only pass N-2 is pruned") {
    val root = Files.createTempDirectory("graft-cdc-pass").toString
    val state = s"$root/state"
    val cfg = StreamingPipeline.Config(threshold = 2,
      emitCdc = true, inlineSummarize = false)
    StreamingPipeline.processBatch(Seq(
      ("g1", "rho rho rho rho", "G1", "2024-01-01 10:00:00"),
      ("g2", "rho rho rho rho x", "G2", "2024-01-01 11:00:00"))
      .toDF("id", "text", "title", "date"), 0L, state, cfg)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hand-write a committed pass-0 overlay that is an UN-summarized copy
    // of the base: the trigger still fires on the chained input, so the
    // pass publishes pass 1 — and must NOT touch pass 0 (a reader that
    // planned against v0s mid-pass keeps executing; the old
    // delete-then-rename swap would FileNotFound it)
    spark.read.parquet(s"$state/table/v0")
      .write.parquet(s"$state/table/v0s")
    assert(CdcConsumer.runOnce(spark, state, threshold = 2) == Seq(0L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/table/v0s/_SUCCESS")),
      "previous pass must survive as the grace window")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/table/v0s1/_SUCCESS")))
    // latestTable resolves the NEWEST pass — the summarized one
    assert(StreamingPipeline.latestTable(spark, state)
      .filter(col("row_type") === "metadata")
      .filter(col("generated_summary") =!= "").count() > 0)
    assert(spark.read.parquet(s"$state/table/v0s")
      .filter(col("generated_summary") =!= "").isEmpty,
      "pass 0 content untouched")
    // a third pass prunes pass 0 but keeps pass 1 as the new grace window
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/cdc_done/v0"), true)
    spark.read.parquet(s"$state/table/v0").write.mode("overwrite")
      .parquet(s"$state/table/v0s2")
    assert(CdcConsumer.runOnce(spark, state, threshold = 2) == Seq(0L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/table/v0s3/_SUCCESS")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/table/v0s2/_SUCCESS")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$state/table/v0s")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$state/table/v0s1")),
      "passes older than N-1 are pruned")
  }

  test("a LAGGING CdcConsumer folds several pending feeds into one pass " +
    "against the newest table and still summarizes") {
    val root = Files.createTempDirectory("graft-cdc-lag").toString
    val state = s"$root/state"
    val cfg = StreamingPipeline.Config(threshold = 2,
      emitCdc = true, inlineSummarize = false)
    // two producer batches run BEFORE the consumer ever does
    StreamingPipeline.processBatch(Seq(
      ("l1", "chi chi chi chi", "C1", "2024-01-01 10:00:00"),
      ("l2", "chi chi chi chi x", "C2", "2024-01-01 11:00:00"))
      .toDF("id", "text", "title", "date"), 0L, state, cfg)
    StreamingPipeline.processBatch(Seq(
      ("l3", "chi chi chi chi y", "C3", "2024-01-02 10:00:00"))
      .toDF("id", "text", "title", "date"), 1L, state, cfg)
    assert(CdcConsumer.pending(spark, state) == Seq(0L, 1L))
    // one pass consumes both feeds against table v1 (the newest)
    assert(CdcConsumer.runOnce(spark, state, threshold = 2) == Seq(0L, 1L))
    assert(CdcConsumer.pending(spark, state).isEmpty)
    val table = StreamingPipeline.latestTable(spark, state)
    val meta = table.filter(col("row_type") === "metadata")
      .select("generated_summary", "summary_count", "number_of_articles")
      .as[(String, Int, Int)].collect()
    assert(meta.length == 1 && meta.head._1.nonEmpty && meta.head._2 == 1)
    assert(meta.head._3 == 3) // A4 quirk: 2+1 at batch 0, then += 1−1 at batch 1
  }

  test("replayed micro-batch is idempotent (exactly-once upsert)") {
    val root = Files.createTempDirectory("graft-replay").toString
    val state = s"$root/state"
    val batch = Seq(
      ("b1", "beta beta beta beta", "B one", "2024-01-01 10:00:00"),
      ("b2", "beta beta beta beta z", "B two", "2024-01-01 11:00:00"))
      .toDF("id", "text", "title", "date")

    StreamingPipeline.processBatch(batch, 0L, state,
      StreamingPipeline.Config(threshold = 2))
    val once = StreamingPipeline.latestTable(spark, state).orderBy("PK", "SK").collect()
    // crash-replay of the same batchId must not double-count
    StreamingPipeline.processBatch(batch, 0L, state,
      StreamingPipeline.Config(threshold = 2))
    val twice = StreamingPipeline.latestTable(spark, state).orderBy("PK", "SK").collect()
    assert(once.toSeq == twice.toSeq)
    val n = StreamingPipeline.latestTable(spark, state)
      .filter(col("row_type") === "metadata")
      .select("number_of_articles").as[Int].head()
    assert(n == 3) // A4: batch_new(2) + 1, not re-applied
  }

  test("Config.strategy selects the ε-join plan through the wrapper: " +
    "BandJoin converges to the same table as the ExactJoin default") {
    val root = Files.createTempDirectory("graft-strategy").toString
    val batches = Seq(
      Seq(("s1", "kappa kappa kappa kappa", "K1", "2024-01-01 10:00:00"),
        ("s2", "kappa kappa kappa kappa x", "K2", "2024-01-01 11:00:00"),
        ("s3", "sigma sigma sigma sigma", "S1", "2024-01-01 12:00:00")),
      Seq(("s4", "kappa kappa kappa kappa y", "K3", "2024-01-02 10:00:00")))
    def runWith(cfg: StreamingPipeline.Config, state: String): Seq[org.apache.spark.sql.Row] = {
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamingPipeline.processBatch(
          b.toDF("id", "text", "title", "date"), i.toLong, state, cfg)
      }
      StreamingPipeline.latestTable(spark, state).orderBy("PK", "SK").collect().toSeq
    }
    val exact = runWith(StreamingPipeline.Config(threshold = 2), s"$root/exact")
    val band = runWith(StreamingPipeline.Config(threshold = 2,
      strategy = graft.operators.Clustering.BandJoin), s"$root/band")
    assert(band == exact)
    assert(exact.nonEmpty)
  }

  test("CdcConsumer.stream: a second stream watching the feed markers drives " +
    "summarization to the same result as direct runOnce calls") {
    val root = Files.createTempDirectory("graft-cdc-stream").toString
    val state = s"$root/state"
    val cfg = StreamingPipeline.Config(threshold = 2,
      emitCdc = true, inlineSummarize = false)
    StreamingPipeline.processBatch(Seq(
      ("q1", "psi psi psi psi", "Q1", "2024-01-01 10:00:00"),
      ("q2", "psi psi psi psi x", "Q2", "2024-01-01 11:00:00"))
      .toDF("id", "text", "title", "date"), 0L, state, cfg)
    StreamingPipeline.processBatch(Seq(
      ("q3", "psi psi psi psi y", "Q3", "2024-01-02 10:00:00"))
      .toDF("id", "text", "title", "date"), 1L, state, cfg)

    val q = CdcConsumer.stream(spark, state, s"$root/ck", threshold = 2)
    awaitDone(q)
    assert(CdcConsumer.pending(spark, state).isEmpty)
    val meta = StreamingPipeline.latestTable(spark, state)
      .filter(col("row_type") === "metadata")
      .select("generated_summary", "summary_count").as[(String, Int)].collect()
    assert(meta.length == 1 && meta.head._1.nonEmpty && meta.head._2 == 1)

    // restarting the watch with the same checkpoint replays nothing new
    val before = StreamingPipeline.latestTable(spark, state)
      .orderBy("PK", "SK").collect().toSeq
    val q2 = CdcConsumer.stream(spark, state, s"$root/ck", threshold = 2)
    awaitDone(q2)
    assert(StreamingPipeline.latestTable(spark, state)
      .orderBy("PK", "SK").collect().toSeq == before)
  }

  test("singletonTtl flows through the streaming Config and bounds pool state") {
    val root = Files.createTempDirectory("graft-ttl").toString
    def run(cfg: StreamingPipeline.Config, state: String): Long = {
      val batches = Seq(
        Seq(("t1", "aaa aaa aaa", "T1", "2024-01-01 10:00:00"),
          ("t2", "bbb bbb bbb", "T2", "2024-01-01 10:01:00")),
        Seq(("t3", "ccc ccc ccc", "T3", "2024-01-01 11:00:00"),
          ("t4", "ddd ddd ddd", "T4", "2024-01-01 11:01:00")),
        Seq(("t5", "eee eee eee", "T5", "2024-01-01 12:00:00"),
          ("t6", "fff fff fff", "T6", "2024-01-01 12:01:00")))
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamingPipeline.processBatch(
          b.toDF("id", "text", "title", "date"), i.toLong, state, cfg)
      }
      spark.read.parquet(s"$state/pool/v2").count()
    }
    // distinct-vocabulary articles never merge: all six stay singletons…
    val unbounded = run(StreamingPipeline.Config(), s"$root/off")
    assert(unbounded == 6L)
    // …but with ttl=2 only the newest window survives each batch
    val bounded = run(StreamingPipeline.Config(singletonTtl = Some(2L)), s"$root/on")
    assert(bounded == 2L, s"pool not bounded by the ttl window: $bounded rows")
  }

  test("latestTable skips a partial (no _SUCCESS) version after a crash") {
    val root = Files.createTempDirectory("graft-partial").toString
    val state = s"$root/state"
    val batch = Seq(("p1", "theta theta theta", "T", "2024-01-01 10:00:00"))
      .toDF("id", "text", "title", "date")
    StreamingPipeline.processBatch(batch, 0L, state, StreamingPipeline.Config())
    val committed = StreamingPipeline.latestTable(spark, state)
      .orderBy("PK", "SK").collect().toSeq

    // fake a crash mid-write of v1: directory with data but no _SUCCESS
    val v1 = new org.apache.hadoop.fs.Path(s"$state/table/v1")
    val fs = v1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$state/table/v0").write.parquet(v1.toString)
    fs.delete(new org.apache.hadoop.fs.Path(v1, "_SUCCESS"), false)

    val got = StreamingPipeline.latestTable(spark, state)
      .orderBy("PK", "SK").collect().toSeq
    assert(got == committed) // served v0, not the partial v1
  }
}
