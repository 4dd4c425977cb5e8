package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.Summarize

class SummarizeSpec extends SparkSpec {
  import spark.implicits._

  test("ST5 trigger truth table (trigger_sfn.py:45-55, T=5, strict bounds)") {
    val cases = Seq(
      // (n, summary_count, expected)
      (5, 0, false),  // n must be strictly > T*(sc+1)
      (6, 0, true),
      (10, 1, false), // 10 > 10 is false
      (11, 1, true),  // 11 > 10 and 11 < 15
      (14, 1, true),
      (15, 1, false), // n < 3T is strict
      (16, 0, true),  // cap waived while never summarized
      (16, 2, false))
    val df = cases.toDF("n", "sc", "want")
      .withColumn("got", Summarize.shouldSummarize(col("n"), col("sc"), 5))
    assert(df.filter(col("got") =!= col("want")).count() == 0)
  }

  test("A6 mostCommon: count-desc then value-asc tie-break; empty-safe") {
    val df = Seq(
      ("c1", Seq("NY", "SF", "NY")),
      ("c2", Seq("LA", "SF")),        // tie → LA (lexicographic)
      ("c3", Seq.empty[String]),      // no values → no row
      ("c4", Seq("", "X"))            // empty strings filtered
    ).toDF("PK", "locations")
    val got = Summarize.mostCommon(df, "locations")
      .as[(String, String)].collect().toMap
    assert(got == Map("c1" -> "NY", "c2" -> "LA", "c4" -> "X"))
  }

  test("A7 dateRange renders min/max with Z-strip (P13/P14)") {
    val df = Seq(
      ("c1", "2024-03-01T10:00:00Z"),
      ("c1", "2024-02-01T09:30:00"),
      ("c1", "2024-12-31T23:59:59Z")).toDF("PK", "publication_date")
    val r = Summarize.dateRange(df).head()
    assert(r.getString(1) == "2024-02-01 09:30:00")
    assert(r.getString(2) == "2024-12-31 23:59:59")
  }

  test("clusterStats fused roll-up matches mostCommon x2 + dateRange") {
    val arts = Seq(
      ("c1", Seq("NY", "SF", "NY"), Seq("org1"), "2024-03-01T10:00:00Z"),
      ("c1", Seq("LA"), Seq("org1", "org2"), "2024-02-01T09:30:00"),
      ("c2", Seq.empty[String], Seq("", "x"), "2024-12-31T23:59:59Z"),
      ("c3", Seq.empty[String], Seq.empty[String], "2024-06-01T00:00:00Z"),
      ("c4", null.asInstanceOf[Seq[String]], null.asInstanceOf[Seq[String]],
        "2024-07-01T00:00:00Z")
    ).toDF("PK", "locations", "organizations", "publication_date")
    val fused = Summarize.clusterStats(arts)
      .orderBy("PK").collect().map(r => (r.getString(0),
        (Option(r.getString(1)), Option(r.getString(2)), r.getString(3), r.getString(4))))
      .toMap
    val locs = Summarize.mostCommon(arts, "locations")
      .as[(String, String)].collect().toMap
    val orgs = Summarize.mostCommon(arts, "organizations")
      .as[(String, String)].collect().toMap
    val dates = Summarize.dateRange(arts)
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    for (pk <- Seq("c1", "c2", "c3", "c4")) {
      val (l, o, ed, ld) = fused(pk)
      assert(l == locs.get(pk), s"$pk locations")
      assert(o == orgs.get(pk), s"$pk organizations")
      assert((ed, ld) == dates(pk), s"$pk dates")
    }
  }

  test("clusterStats and dateRange read empty and malformed dates as undated, " +
    "also under ANSI") {
    val arts = Seq(
      ("c1", "", Seq("NY")), ("c1", "2024-02-01T09:30:00Z", Seq("NY")),
      ("c1", "not a date", Seq("SF")), ("c2", "", Seq.empty[String]))
      .toDF("PK", "publication_date", "locations")
      .withColumn("organizations", lit(null).cast("array<string>"))
    val session = spark.newSession()
    session.conf.set("spark.sql.ansi.enabled", "true")
    val ansiArts = session.createDataFrame(arts.collect().toSeq.asJava, arts.schema)
    val stats = Summarize.clusterStats(ansiArts).orderBy("PK").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(3), r.getString(4))).toSeq
    assert(stats == Seq(("c1", "NY", "2024-02-01 09:30:00", "2024-02-01 09:30:00"),
      ("c2", null, null, null)))
    assert(Summarize.dateRange(ansiArts).orderBy("PK").collect().map(_.toSeq).toSeq ==
      Seq(Seq("c1", "2024-02-01 09:30:00", "2024-02-01 09:30:00"), Seq("c2", null, null)))
  }

  test("A8/P11/P12 summarizeClusters: deterministic order, caps, tag round-trip") {
    val arts = Seq(
      ("c1", "a2", "Second title", "short summary two", "2024-01-02 00:00:00"),
      ("c1", "a1", "First title", "short summary one", "2024-01-01 00:00:00"))
      .toDF("PK", "article_id", "title", "summary", "publication_date")
    val meta = Seq(("c1", 0)).toDF("PK", "summary_count")
    val r = Summarize.summarizeClusters(arts, meta).head()
    assert(r.getString(0) == "c1")
    assert(r.getString(1) == "First title") // description = earliest article's title
    val summary = r.getString(2)
    assert(summary.startsWith("title: First title, summary: short summary one"))
    assert(summary.contains("Second title"))
  }

  test("P11 truncation budgets: 2000-char cap first time, 1500 on re-summarize") {
    val long = "x" * 3000
    val arts = Seq(("c1", "a1", "T", long, "2024-01-01 00:00:00"))
      .toDF("PK", "article_id", "title", "summary", "publication_date")
    def summaryLenFor(sc: Int): Int = {
      val meta = Seq(("c1", sc)).toDF("PK", "summary_count")
      // prompt body length = "title: T, summary: ".length + cap
      val prompt = Summarize.summarizeClusters(arts, meta)
      prompt.head() // force
      val frag = arts.join(meta, "PK")
        .select(when(col("summary_count") > 0, substring(col("summary"), 1, 1500))
          .otherwise(substring(col("summary"), 1, 2000)).as("s"))
      frag.head().getString(0).length
    }
    assert(summaryLenFor(0) == 2000)
    assert(summaryLenFor(1) == 1500)
  }
}
