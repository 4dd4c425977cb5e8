package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

import graft.operators.ClusterTable
import graft.schemas.Schemas

class ClusterTableSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val clock = "2024-06-01T00:00:00"

  private def assignments(rows: (String, String, Boolean, Int, Int)*) =
    rows.toDF("article_id", "cluster_id", "is_cluster", "cluster_size", "batch_new")

  private def articles(rows: (String, String, String, String, String)*) =
    rows.toDF("id", "title", "summary", "text", "publication_date")

  test("A4 counter: new metadata = batch_new + 1 (process_records.py:224)") {
    val t = ClusterTable.emptyTable(spark)
    val up = ClusterTable.upsertRows(t,
      assignments(("a1", "c1", true, 3, 3), ("a2", "c1", true, 3, 3),
        ("a3", "c1", true, 3, 3)),
      articles(("a1", "T1", "S1", "X1", "2024-01-01 00:00:00"),
        ("a2", "T2", "S2", "X2", "2024-01-02 00:00:00"),
        ("a3", "T3", "S3", "X3", "2024-01-03 00:00:00")), clock)
    val meta = up.filter(col("row_type") === "metadata").head()
    assert(meta.getAs[Int]("number_of_articles") == 4) // 3 + 1, quirk preserved
    assert(meta.getAs[String]("created_at") == clock)
    assert(meta.getAs[Int]("summary_count") == 0)
    assert(up.filter(col("row_type") === "article").count() == 3)
  }

  test("A4 counter: existing metadata += batch_new - 1 (process_records.py:209-210)") {
    val t0 = ClusterTable.emptyTable(spark)
    val up1 = ClusterTable.upsertRows(t0,
      assignments(("a1", "c1", true, 2, 2), ("a2", "c1", true, 2, 2)),
      articles(("a1", "T1", "S1", "X1", "2024-01-01 00:00:00"),
        ("a2", "T2", "S2", "X2", "2024-01-02 00:00:00")), clock)
    val t1 = ClusterTable.merge(t0, up1)
    val up2 = ClusterTable.upsertRows(t1,
      assignments(("a3", "c1", true, 3, 2), ("a4", "c1", true, 3, 2)),
      articles(("a3", "T3", "S3", "X3", "2024-01-03 00:00:00"),
        ("a4", "T4", "S4", "X4", "2024-01-04 00:00:00")), clock)
    val meta = up2.filter(col("row_type") === "metadata").head()
    // first batch: 2+1 = 3; second: 3 + (2-1) = 4
    assert(meta.getAs[Int]("number_of_articles") == 4)
  }

  test("J2 lookup tolerates missing article payloads with stub columns") {
    val up = ClusterTable.upsertRows(ClusterTable.emptyTable(spark),
      assignments(("ghost", "c1", false, 1, 1)),
      articles(), clock)
    val row = up.filter(col("row_type") === "article").head()
    assert(row.getAs[String]("title") == "")
    assert(row.getAs[String]("SK") == "ARTICLE#ghost")
  }

  test("merge is last-writer-wins on (PK,SK)") {
    val t = Seq(
      ("c1", "#METADATA#c1", "metadata", "old")).toDF("PK", "SK", "row_type", "description")
    val up = Seq(
      ("c1", "#METADATA#c1", "metadata", "new")).toDF("PK", "SK", "row_type", "description")
    val merged = ClusterTable.merge(t, up)
    assert(merged.count() == 1)
    assert(merged.head().getAs[String]("description") == "new")
  }

  test("summarizePass fires per threshold, writes summary, bumps summary_count") {
    var t = ClusterTable.emptyTable(spark)
    val up = ClusterTable.upsertRows(t,
      assignments(
        ("a1", "c1", true, 3, 3), ("a2", "c1", true, 3, 3), ("a3", "c1", true, 3, 3),
        ("b1", "c2", false, 1, 1)),
      articles(
        ("a1", "T1", "S1", "X1", "2024-01-01 00:00:00"),
        ("a2", "T2", "S2", "X2", "2024-01-02 00:00:00"),
        ("a3", "T3", "S3", "X3", "2024-01-03 00:00:00"),
        ("b1", "U1", "V1", "Y1", "2024-01-04 00:00:00")), clock)
    t = ClusterTable.merge(t, up)
    val updated = Seq("c1", "c2").toDF("PK")
    // c1 has n=4 > 2*(0+1) → fires; c2 has n=2, not > 2 → no fire
    val t2 = ClusterTable.summarizePass(t, updated, threshold = 2)
    val m = t2.filter(col("row_type") === "metadata")
      .select("PK", "generated_summary", "summary_count", "description")
      .as[(String, String, Int, String)].collect()
      .map { case (pk, s, c, d) => pk -> ((s, c, d)) }.toMap
    assert(m("c1")._2 == 1)
    assert(m("c1")._1.startsWith("title: T1, summary: S1"))
    assert(m("c1")._3 == "T1")
    assert(m("c2") == (("", 0, "")))
  }

  test("A9 uiClusterList filters (is_cluster, summary, >2 dated) and sorts desc") {
    def meta(pk: String, n: Int, summary: String, isC: Boolean) =
      (pk, s"#METADATA#$pk", "metadata", n, summary, isC, null: String, null: String)
    def art(pk: String, id: String, date: String) =
      (pk, s"ARTICLE#$id", "article", 0, null: String, false, id, date)
    val t = Seq(
      meta("c1", 9, "sum1", true),
      art("c1", "a1", "2024-01-01"), art("c1", "a2", "2024-01-02"),
      art("c1", "a3", "2024-01-03"),
      meta("c2", 20, "", true),            // no summary → out
      art("c2", "b1", "2024-01-01"), art("c2", "b2", "2024-01-01"),
      art("c2", "b3", "2024-01-01"),
      meta("c3", 30, "sum3", false),       // not a cluster → out
      art("c3", "d1", "2024-01-01"), art("c3", "d2", "2024-01-01"),
      art("c3", "d3", "2024-01-01"),
      meta("c4", 40, "sum4", true),        // only 2 dated articles → out
      art("c4", "e1", "2024-01-01"), art("c4", "e2", "2024-01-01"),
      art("c4", "e3", null),
      meta("c5", 50, "sum5", true),
      art("c5", "f1", "2024-01-01"), art("c5", "f2", "2024-01-02"),
      art("c5", "f3", "2024-01-03"), art("c5", "f4", "2024-01-04"))
      .toDF("PK", "SK", "row_type", "number_of_articles", "generated_summary",
        "is_cluster", "article_id", "publication_date")
      .withColumn("description", lit(""))
      .withColumn("most_common_location", lit(""))
      .withColumn("most_common_organization", lit(""))
      .withColumn("earliest_date", lit(""))
      .withColumn("latest_date", lit(""))
    val out = ClusterTable.uiClusterList(t)
      .select("PK", "article_count").as[(String, Long)].collect()
    assert(out.toSeq == Seq(("c5", 4L), ("c1", 3L)))
  }

  /** The A9 list as a metadata ⋈ dated-article-count join, sorted
    * globally: the formulation `uiClusterList` replaced, kept as the
    * oracle of its rows and their order. */
  private def joinedUiClusterList(table: DataFrame): DataFrame = {
    val counts = table.filter(col("row_type") === "article")
      .filter(col("publication_date").isNotNull && col("publication_date") =!= "")
      .groupBy(col("PK")).agg(count(lit(1)).as("article_count"))
    table.filter(col("row_type") === "metadata")
      .join(counts, Seq("PK"))
      .filter(col("is_cluster") && col("generated_summary") =!= "" &&
        col("article_count") > 2)
      .select(col("PK"), col("description"), col("generated_summary"),
        col("number_of_articles"), col("article_count"),
        col("most_common_location"), col("most_common_organization"),
        col("earliest_date"), col("latest_date"))
      .orderBy(col("number_of_articles").desc, col("PK"))
  }

  /** A clusters table (full schema) of A9 edge cases. Article rows carry
    * metadata-like values that sort above every metadata row's, so a
    * list that read them would show. */
  private def edgeTable(): DataFrame = {
    val width = Schemas.clusters.size
    def row(values: (String, Any)*): Row = {
      val byName = values.toMap
      Row.fromSeq(Schemas.clusters.fieldNames.toSeq.map(byName.getOrElse(_, null)))
    }
    def meta(pk: String, n: Integer, summary: String, isC: java.lang.Boolean) =
      row("PK" -> pk, "SK" -> s"#METADATA#$pk", "row_type" -> "metadata",
        "number_of_articles" -> n, "generated_summary" -> summary, "is_cluster" -> isC,
        "description" -> s"d-$pk", "most_common_location" -> s"loc-$pk",
        "most_common_organization" -> s"org-$pk", "earliest_date" -> "2024-01-01",
        "latest_date" -> "2024-01-09", "summary_count" -> 1, "created_at" -> "t0")
    def art(pk: String, id: String, date: String) =
      row("PK" -> pk, "SK" -> s"ARTICLE#$id", "row_type" -> "article",
        "article_id" -> id, "publication_date" -> date, "title" -> id,
        "number_of_articles" -> 999, "generated_summary" -> "zzz", "is_cluster" -> true,
        "description" -> "zzz", "most_common_location" -> "zzz",
        "most_common_organization" -> "zzz", "earliest_date" -> "9999", "latest_date" -> "9999")
    def arts(pk: String, dates: String*) =
      dates.zipWithIndex.map { case (d, i) => art(pk, s"$pk-$i", d) }
    val rows =
      arts("orphan", "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04") ++ // no metadata
        Seq(meta("lonely", 50, "s", true)) ++                                   // no articles
        Seq(meta("undated", 40, "s", true)) ++ arts("undated", null, "", "", "2024-01-01") ++
        Seq(meta("just3", 40, "s", true)) ++ arts("just3", null, "", "a", "b", "c") ++
        Seq(meta("tie-b", 10, "s", true)) ++ arts("tie-b", "a", "b", "c") ++
        Seq(meta("tie-a", 10, "s", true)) ++ arts("tie-a", "a", "b", "c") ++
        Seq(meta("nulln", null, "s", true)) ++ arts("nulln", "a", "b", "c") ++
        Seq(meta("nosum", 60, "", true)) ++ arts("nosum", "a", "b", "c") ++
        Seq(meta("nullsum", 60, null, true)) ++ arts("nullsum", "a", "b", "c") ++
        Seq(meta("single", 60, "s", false)) ++ arts("single", "a", "b", "c") ++
        Seq(meta("nullc", 60, "s", null)) ++ arts("nullc", "a", "b", "c") ++
        Seq(meta("big", 70, "s", true)) ++ arts("big", "a", "b", "c", "d", "e")
    assert(rows.forall(_.length == width))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.clusters)
  }

  test("A9 uiClusterList returns the join formulation's rows in its order " +
    "on edge cases") {
    val t = edgeTable()
    val got = ClusterTable.uiClusterList(t)
    val want = joinedUiClusterList(t)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    val rows = got.collect().toSeq
    assert(rows == want.collect().toSeq)
    assert(rows.map(_.getString(0)) == Seq("big", "just3", "tie-a", "tie-b", "nulln"))
    assert(rows.head.getAs[String]("description") == "d-big")
    assert(rows.head.getAs[Long]("article_count") == 5L)
  }

  test("A9 uiClusterList on a parquet table: one shuffle exchange, no " +
    "broadcast, 2 jobs with AQE and 1 without") {
    val dir = Files.createTempDirectory("graft-ui-list").toString
    edgeTable().write.mode("overwrite").parquet(dir)
    def listJobs(adaptive: Boolean,
                 formulation: DataFrame => DataFrame = ClusterTable.uiClusterList)
        : (Int, DataFrame) = {
      val session = spark.newSession()
      session.conf.set("spark.sql.adaptive.enabled", adaptive.toString)
      val list = formulation(session.read.schema(Schemas.clusters).parquet(dir))
      var rows = 0
      val jobs = jobsOf { rows = list.collect().length }
      assert(rows == 5)
      (jobs, list)
    }
    val (aqeJobs, executed) = listJobs(adaptive = true)
    val joinJobs = listJobs(adaptive = true, joinedUiClusterList)._1
    info(s"uiClusterList jobs with AQE: $aqeJobs (the join formulation: $joinJobs)")
    assert(aqeJobs <= 2)
    assert(listJobs(adaptive = false)._1 == 1)
    val plan = executed.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeLike => e }.size == 1, plan)
    assert(collect(plan) { case e: BroadcastExchangeLike => e }.isEmpty, plan)
  }
}
