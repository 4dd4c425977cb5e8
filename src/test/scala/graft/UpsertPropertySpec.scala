package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{ClusterTable, Clustering, Preprocess, Summarize}
import graft.schemas.Schemas
import graft.streaming.StreamingPipeline

/** A micro-batch's table update runs on the driver
  * (`ClusterTable.upsertBatch`: upsert rows, inline summarize pass,
  * merge). This spec keeps the distributed chain it replaced as the
  * reference — `upsertRows` as broadcast joins → `merge` → an eager
  * checkpoint of the merged table → `summarizePass` — and asserts that
  * over random multi-batch runs both give the same change-feed rows and
  * the same table, by an order-free digest over every column.
  */
class UpsertPropertySpec extends SparkSpec {

  private val clock = "2024-06-01T00:00:00"

  /** The distributed upsert rows (S9 + A4 + J2): the batch's article
    * rows joined to their payloads, and one metadata row per touched
    * cluster from the A4 counters over its existing metadata row. */
  private def referenceUpsertRows(table: DataFrame, assignments: DataFrame,
                                  articles: DataFrame, clock: String): DataFrame = {
    val arts = {
      val withOrgs =
        if (articles.columns.contains("organizations")) articles
        else articles.withColumn("organizations", lit(null).cast("array<string>"))
      if (withOrgs.columns.contains("locations")) withOrgs
      else withOrgs.withColumn("locations", lit(null).cast("array<string>"))
    }
    val articleRows = assignments
      .join(broadcast(arts.withColumnRenamed("id", "article_id")), Seq("article_id"), "left_outer")
      .select(
        col("cluster_id").as("PK"),
        concat(lit("ARTICLE#"), col("article_id")).as("SK"),
        lit("article").as("row_type"),
        lit(null).cast("string").as("created_at"),
        lit(null).cast("int").as("number_of_articles"),
        lit(null).cast("string").as("generated_summary"),
        lit(null).cast("int").as("summary_count"),
        lit(null).cast("string").as("description"),
        lit(null).cast("boolean").as("is_cluster"),
        lit(null).cast("string").as("most_common_location"),
        lit(null).cast("string").as("most_common_organization"),
        lit(null).cast("string").as("earliest_date"),
        lit(null).cast("string").as("latest_date"),
        col("article_id"),
        coalesce(col("title"), lit("")).as("title"),
        coalesce(col("summary"), lit("")).as("summary"),
        coalesce(col("text"), lit("")).as("text"),
        col("organizations"),
        col("locations"),
        coalesce(col("publication_date"), lit("")).as("publication_date"),
        lit(clock).as("entry_creation_date"))
    val perCluster = assignments
      .groupBy(col("cluster_id"), col("is_cluster"))
      .agg(max(col("batch_new")).as("batch_new"))
    val existingMeta = table.filter(col("row_type") === "metadata")
      .select(col("PK"), col("created_at").as("old_created_at"),
        col("number_of_articles").as("old_n"),
        col("generated_summary").as("old_summary"),
        col("summary_count").as("old_sc"),
        col("description").as("old_desc"),
        col("most_common_location").as("old_loc"),
        col("most_common_organization").as("old_org"),
        col("earliest_date").as("old_ed"),
        col("latest_date").as("old_ld"))
    val touchedMeta = existingMeta
      .join(broadcast(perCluster.select(col("cluster_id").as("PK"))), Seq("PK"), "left_semi")
    val metadataRows = perCluster
      .join(broadcast(touchedMeta), perCluster("cluster_id") === touchedMeta("PK"), "left_outer")
      .select(
        col("cluster_id").as("PK"),
        concat(lit("#METADATA#"), col("cluster_id")).as("SK"),
        lit("metadata").as("row_type"),
        coalesce(col("old_created_at"), lit(clock)).as("created_at"),
        when(col("old_n").isNotNull, col("old_n") + col("batch_new") - 1)
          .otherwise(col("batch_new") + 1).as("number_of_articles"),
        coalesce(col("old_summary"), lit("")).as("generated_summary"),
        coalesce(col("old_sc"), lit(0)).as("summary_count"),
        coalesce(col("old_desc"), lit("")).as("description"),
        col("is_cluster"),
        col("old_loc").as("most_common_location"),
        col("old_org").as("most_common_organization"),
        col("old_ed").as("earliest_date"),
        col("old_ld").as("latest_date"),
        lit(null).cast("string").as("article_id"),
        lit(null).cast("string").as("title"),
        lit(null).cast("string").as("summary"),
        lit(null).cast("string").as("text"),
        lit(null).cast("array<string>").as("organizations"),
        lit(null).cast("array<string>").as("locations"),
        lit(null).cast("string").as("publication_date"),
        lit(null).cast("string").as("entry_creation_date"))
    articleRows.unionByName(metadataRows).dropDuplicates("PK", "SK")
  }

  private def referenceMerge(table: DataFrame, upserts: DataFrame): DataFrame =
    table.join(broadcast(upserts.select("PK", "SK")), Seq("PK", "SK"), "left_anti")
      .unionByName(upserts)

  /** The distributed summarize pass over the merged table: the trigger
    * on the updated clusters' metadata rows, the summarizer over the
    * fired clusters' article rows, and the write-back as a join. */
  private def referenceSummarizePass(table: DataFrame, updatedPKs: DataFrame,
                                     threshold: Int): DataFrame = {
    val meta = table.filter(col("row_type") === "metadata")
      .join(broadcast(updatedPKs), Seq("PK"), "left_semi")
    val fired = meta.filter(
      Summarize.shouldSummarize(col("number_of_articles"), col("summary_count"), threshold))
      .select(col("PK"), col("summary_count"))
    val arts = table.filter(col("row_type") === "article")
      .join(broadcast(fired.select(col("PK"))), Seq("PK"), "left_semi")
      .select(col("PK"), col("article_id"), col("title"), col("summary"),
        col("publication_date"), col("organizations"), col("locations"))
    val updates = Summarize.summarizeClusters(arts, fired)
      .join(Summarize.clusterStats(arts), Seq("PK"), "left_outer")
      .select(col("PK"), col("description").as("u_desc"),
        col("generated_summary").as("u_sum"),
        col("most_common_locations").as("u_loc"),
        col("most_common_organizations").as("u_org"),
        col("earliest_date").as("u_ed"), col("latest_date").as("u_ld"))
    val newMeta = table.filter(col("row_type") === "metadata")
      .join(broadcast(updates), Seq("PK"), "inner")
      .withColumn("generated_summary", col("u_sum"))
      .withColumn("description", col("u_desc"))
      .withColumn("most_common_location", coalesce(col("u_loc"), lit("")))
      .withColumn("most_common_organization", coalesce(col("u_org"), lit("")))
      .withColumn("earliest_date", col("u_ed"))
      .withColumn("latest_date", col("u_ld"))
      .withColumn("summary_count", col("summary_count") + 1)
      .select(Schemas.clusters.fieldNames.map(col): _*)
    val updKeys = updates.select(col("PK"), concat(lit("#METADATA#"), col("PK")).as("SK"))
    table.join(broadcast(updKeys), Seq("PK", "SK"), "left_anti").unionByName(newMeta)
  }

  /** The reference chain for one batch: (upsert rows, next table), both
    * checkpoints the caller frees. */
  private def referenceBatch(table: DataFrame, assignments: DataFrame, articles: DataFrame,
                             clock: String, summarizeAt: Option[Int]): (DataFrame, DataFrame) = {
    val ups = referenceUpsertRows(table, assignments, articles, clock)
      .localCheckpoint(eager = true)
    val merged = referenceMerge(table, ups).localCheckpoint(eager = true)
    val updated = assignments.select(col("cluster_id").as("PK")).distinct()
    val next = summarizeAt.fold(merged)(referenceSummarizePass(merged, updated, _))
      .localCheckpoint(eager = true)
    SparkHygiene.freeCheckpoint(merged)
    (ups, next)
  }

  private val ArticleSchema = StructType(Seq(
    StructField("id", StringType), StructField("title", StringType),
    StructField("summary", StringType), StructField("text", StringType),
    StructField("organizations", ArrayType(StringType)),
    StructField("locations", ArrayType(StringType)),
    StructField("publication_date", StringType)))

  private val AssignmentSchema = StructType(Seq(
    StructField("article_id", StringType), StructField("cluster_id", StringType),
    StructField("is_cluster", BooleanType), StructField("cluster_size", IntegerType),
    StructField("batch_new", IntegerType)))

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** One batch of the simulated feed: article payloads and their
    * assignments, in the shapes `Clustering.step` and `Preprocess` hand
    * over. */
  private case class Batch(articles: Seq[Row], assignments: Seq[Row])

  /** A random multi-batch run. A simulated clusterer keeps each
    * cluster's size; every batch holds new articles joining existing
    * clusters, new clusters and singletons, and some of:
    *   - ids that arrived before, landing in the same or another cluster;
    *   - a merge of two existing clusters (the smaller's rows stay under
    *     its PK, the batch's articles go to the larger);
    *   - articles of a PK that has article rows but no metadata row;
    *   - null and empty organizations and locations, null and "" dates,
    *     and payload misses (an assignment without an article);
    *   - summaries long enough that the re-summarize budget (1,500
    *     chars, `summary_count` > 0) and the first one (2,000) differ. */
  private def randomRun(rnd: Random, tag: String, batches: Int): Seq[Batch] = {
    val size = mutable.LinkedHashMap.empty[String, Int]
    size("orphan") = 2
    val arrived = mutable.ArrayBuffer.empty[(String, String)] // (id, cluster)
    def words(n: Int) = Seq.fill(n)(rnd.alphanumeric.take(3 + rnd.nextInt(5)).mkString)
      .mkString(" ")
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def tags(prefix: String): Any = rnd.nextInt(5) match {
      case 0 => null
      case 1 => Seq.empty[String]
      case 2 => Seq(null, "", s"${prefix}0")
      case _ => Seq.fill(1 + rnd.nextInt(3))(s"$prefix${rnd.nextInt(3)}")
    }
    def date(): String = rnd.nextInt(6) match {
      case 0 => null
      case 1 => ""
      case 2 => "2024-01-05T10:00:00Z"
      case _ => f"2024-01-${1 + rnd.nextInt(9)}%02d ${rnd.nextInt(24)}%02d:00:00"
    }
    (0 until batches).map { b =>
      val members = mutable.ArrayBuffer.empty[(String, String)] // (id, cluster)
      val fresh = (0 until 12 + rnd.nextInt(12)).map(i => s"$tag-b$b-$i")
      for (id <- fresh) rnd.nextInt(4) match {
        case 0 if size.nonEmpty => members += id -> pick(size.keys.toSeq)
        case 1 => members += id -> s"$tag-c$b-${rnd.nextInt(3)}"
        case _ => members += id -> Clustering.clusterIdFor(id)
      }
      // ids that arrived before: the same cluster or another one
      for ((id, c) <- rnd.shuffle(arrived.toSeq).take(rnd.nextInt(4)))
        members += id -> (if (rnd.nextBoolean() || size.isEmpty) c else pick(size.keys.toSeq))
      if (b == 0) members ++= Seq(s"$tag-o1" -> "orphan", s"$tag-o2" -> "orphan")
      // two existing clusters merge into the larger; the smaller's PK is
      // never assigned again
      if (b > 0 && size.size >= 2 && rnd.nextBoolean()) {
        val Seq(a, c) = rnd.shuffle(size.keys.toSeq).take(2)
        val (keep, gone) = if (size(a) >= size(c)) (a, c) else (c, a)
        size(keep) += size(gone)
        size.remove(gone)
        members += s"$tag-m$b" -> keep
        members.mapInPlace { case (id, c) => id -> (if (c == gone) keep else c) }
      }
      val deduped = members.groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
      val joined = deduped.groupBy(_._2).map { case (c, ms) => c -> ms.size }
      joined.foreach { case (c, n) => size(c) = size.getOrElse(c, 0) + n }
      arrived ++= deduped
      val assignments = deduped.map { case (id, c) =>
        Row(id, c, size(c) > 1, size(c), joined(c))
      }
      val articles = deduped.filter(_ => rnd.nextInt(12) != 0).map { case (id, _) =>
        val long = rnd.nextInt(4) == 0
        Row(id, if (rnd.nextInt(10) == 0) null else s"T ${words(3)}",
          if (long) words(500) else words(5 + rnd.nextInt(20)), words(8),
          tags("org"), tags("loc"), date())
      }
      Batch(articles, assignments)
    }
  }

  /** The table the runs start from: one cluster with a metadata row and
    * one ("orphan") with article rows only, some with null dates. */
  private def seedTable(tag: String): DataFrame = {
    def row(values: (String, Any)*): Row = {
      val byName = values.toMap
      Row.fromSeq(Schemas.clusters.fieldNames.toSeq.map(byName.getOrElse(_, null)))
    }
    def art(pk: String, id: String, date: String) = row("PK" -> pk, "SK" -> s"ARTICLE#$id",
      "row_type" -> "article", "article_id" -> id, "title" -> s"old $id",
      "summary" -> s"old summary of $id", "text" -> "", "publication_date" -> date,
      "organizations" -> Seq("org1"), "entry_creation_date" -> "t0")
    frame(Seq(
      row("PK" -> "seeded", "SK" -> "#METADATA#seeded", "row_type" -> "metadata",
        "created_at" -> "t0", "number_of_articles" -> 2, "generated_summary" -> "",
        "summary_count" -> 0, "description" -> "", "is_cluster" -> true),
      art("seeded", s"$tag-s1", "2024-01-01 00:00:00"), art("seeded", s"$tag-s2", null),
      art("orphan", s"$tag-x1", null), art("orphan", s"$tag-x2", "")), Schemas.clusters)
  }

  /** Runs `batches` through `ClusterTable.upsertBatch` and the reference
    * chain from `seed`, asserting equal upsert rows and tables after
    * every batch; returns the PKs whose summary_count reached 1 and 2. */
  private def assertSameAsReference(seed: DataFrame, batches: Seq[Batch],
                                    summarizeAt: Option[Int], what: String): Map[Int, Int] = {
    var (got, want) = (seed.localCheckpoint(eager = true), seed.localCheckpoint(eager = true))
    try for ((batch, b) <- batches.zipWithIndex) {
      val asg = frame(batch.assignments, AssignmentSchema)
      val arts = frame(batch.articles, ArticleSchema)
      val (ups, next) = ClusterTable.upsertBatch(got, asg, arts, clock, summarizeAt)
      val (refUps, refNext) = referenceBatch(want, asg, arts, clock, summarizeAt)
      assert(digest(ups) == digest(refUps), s"$what batch $b: upsert rows differ")
      SparkHygiene.freeCheckpoint(refUps)
      val nextCk = next.localCheckpoint(eager = true)
      assert(digest(nextCk) == digest(refNext), s"$what batch $b: tables differ")
      Seq(got, want).foreach(SparkHygiene.freeCheckpoint)
      got = nextCk
      want = refNext
    } finally SparkHygiene.freeCheckpoint(want)
    try got.filter(col("row_type") === "metadata").groupBy("summary_count").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1).toInt).toMap
    finally SparkHygiene.freeCheckpoint(got)
  }

  test("upsert rows and table equal the distributed chain over random runs") {
    val fires = mutable.Map.empty[Int, Int].withDefaultValue(0)
    for (seed <- Seq(3, 17, 29); summarizeAt <- Seq(Some(2), Some(3), None)) {
      val tag = s"r$seed"
      val run = randomRun(new Random(seed), tag, batches = 4)
      assertSameAsReference(seedTable(tag), run, summarizeAt, s"seed $seed at $summarizeAt")
        .foreach { case (sc, n) => fires(sc) += n }
    }
    // non-vacuous: clusters were summarized once and re-summarized
    info(s"metadata rows by summary_count: ${fires.toSeq.sorted}")
    assert(fires(1) > 0 && fires(2) > 0)
  }

  /** A hand-built run at threshold 2 (fire iff n > 2·(sc+1) and
    * (n < 6 or sc = 0)), so each edge case is hit by construction. */
  test("upsert rows and table equal the distributed chain on edge cases") {
    def a(id: String, c: String, n: Int, bn: Int) = Row(id, c, n > 1, n, bn)
    def art(id: String, date: String, orgs: Seq[String] = null, locs: Seq[String] = null,
            long: Boolean = false) =
      Row(id, s"T $id", s"summary of $id" + " x" * (if (long) 1000 else 3), "text",
        orgs, locs, date)
    val batches = Seq(
      // hot: new, n = 2 + 1 = 3 > 2 fires; at: new, n = 1 + 1 = 2, not
      // fired (at the threshold); orphan: no metadata row, n = 2 + 1 = 3,
      // fires over its old article rows too; o2 has no payload
      Batch(Seq(art("h1", null), art("h2", ""), art("t1", "2024-01-01 00:00:00"),
          art("o1", "2024-01-02 00:00:00", Seq(null, ""), Seq("l1", "l1"))),
        Seq(a("h1", "hot", 2, 2), a("h2", "hot", 2, 2), a("t1", "at", 1, 1),
          a("o1", "orphan", 3, 2), a("o2", "orphan", 3, 2))),
      // at merges into hot (its rows stay under its PK); h1 arrives again
      // in hot: n = 3 + 2 − 1 = 4 = 2·2, not fired
      Batch(Seq(art("h1", "2023-12-31 00:00:00", Seq("o")), art("h3", "2024-01-03 00:00:00")),
        Seq(a("h1", "hot", 6, 2), a("h3", "hot", 6, 2))),
      // n = 4 + 2 − 1 = 5: 5 > 4 and 5 < 6 re-summarizes hot (sc = 1,
      // the 1,500-char budget), over h1's new row only; h3 arrives again
      // in another cluster and its row in hot stays
      Batch(Seq(art("h1", "2023-12-30 00:00:00", Seq("p")), art("h4", "2024-01-04 00:00:00",
          long = true), art("h3", "2024-01-05 00:00:00", locs = Seq("l2"))),
        Seq(a("h1", "hot", 8, 2), a("h4", "hot", 8, 2), a("h3", "other", 1, 1))))
    val fires = assertSameAsReference(seedTable("edge"), batches, Some(2), "edge cases")
    assert(fires.getOrElse(2, 0) == 1, fires)
  }

  /** The reference micro-batch: preprocess → `Clustering.step` → the
    * distributed chain; returns (pool, change feed, table). */
  private def referenceStep(pool: DataFrame, table: DataFrame, batch: DataFrame,
                            cfg: StreamingPipeline.Config): (DataFrame, DataFrame, DataFrame) = {
    val prepped = Preprocess(batch, cfg.embedDim).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val clustered = Clustering.step(pool, prepped.select(col("id"), col("concat_embedding")))
      val (ups, next) = referenceBatch(table, clustered.assignments, prepped, cfg.clock,
        Option.when(cfg.inlineSummarize)(cfg.threshold))
      (clustered.pool, ups, next)
    } finally prepped.unpersist()
  }

  test("StreamingPipeline.step equals the distributed chain on feed batches " +
    "with re-sent articles") {
    val rnd = new Random(11)
    def text() = Seq.fill(30 + rnd.nextInt(20))(rnd.alphanumeric.take(5).mkString).mkString(" ")
    val stories = Seq.fill(4)(text())
    var sent = Seq.empty[(String, String)]
    val batches = (0 until 4).map { b =>
      val copies = for ((t, s) <- stories.zipWithIndex; c <- 0 until 2 + rnd.nextInt(3))
        yield (s"b$b-s$s-c$c", t)
      val singles = (0 until 10).map(i => (s"b$b-a$i", text()))
      // re-sent ids: one with its old text (its old cluster), one with a
      // story's text (another cluster)
      val again = sent.take(2).zipWithIndex.map { case ((id, t), i) =>
        (id, if (i == 0) t else stories(b % stories.size)) }
      val rows = copies ++ singles ++ again
      sent = rnd.shuffle(rows)
      rows.map { case (id, t) => (id, t, s"title $id", s"2024-01-0${1 + b} 10:00:00") }
    }
    for (cfg <- Seq(StreamingPipeline.Config(threshold = 3),
      StreamingPipeline.Config(threshold = 3, inlineSummarize = false))) {
      var (pool, table) = (StreamingPipeline.emptyPool(spark), ClusterTable.emptyTable(spark))
      var (refPool, refTable) = (pool, table)
      for ((rows, b) <- batches.zipWithIndex) {
        val batch = spark.createDataFrame(rows).toDF("id", "text", "title", "date")
        val s = StreamingPipeline.withBatchExecution(spark, cfg) {
          StreamingPipeline.step(pool, table, batch, cfg)
        }
        val (rp, rUps, rNext) = referenceStep(refPool, refTable, batch, cfg)
        assert(digest(s.ups) == digest(rUps), s"batch $b ($cfg): change feeds differ")
        val next = s.table.localCheckpoint(eager = true)
        assert(digest(next) == digest(rNext), s"batch $b ($cfg): tables differ")
        Seq(pool, table, refPool, refTable, rUps).foreach(SparkHygiene.freeCheckpoint)
        pool = s.pool; table = next; refPool = rp; refTable = rNext
      }
      // non-vacuous: stories fired inline, and re-sent ids left rows in
      // two clusters
      assert((table.filter(col("summary_count") > 0).count() > 0) == cfg.inlineSummarize)
      assert(table.filter(col("row_type") === "article").groupBy("article_id").count()
        .filter(col("count") > 1).count() > 0)
      Seq(pool, table, refPool, refTable).foreach(SparkHygiene.freeCheckpoint)
    }
  }
}
