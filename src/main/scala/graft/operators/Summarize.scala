package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Summarization trigger + deterministic summarizer stub + cluster
  * roll-up stats (SURVEY ST5, A8, A6/A7, P11/P12).
  *
  * The LLM call itself (Bedrock Claude in the reference,
  * `summarization.py:82-118`) is out of the engine's scope; the operator
  * contract is `(prev_summary, summary_count, articles) → (title, summary)`
  * with the reference's exact truncation budgets. The stub is extractive
  * and deterministic so goldens are stable.
  */
object Summarize {

  /** ST5 trigger predicate (reference `trigger_sfn.py:45-55`, T=5 from
    * `lambda.tf:138`): fire iff n > T·(summary_count+1) and
    * (n < 3T or summary_count == 0). Strict inequalities preserved.
    */
  def shouldSummarize(n: Column, summaryCount: Column, threshold: Int = 5): Column =
    (n > (summaryCount + 1) * threshold) &&
      (n < 3 * threshold || summaryCount === 0)

  /** P11 per-article prompt fragment with the reference's budgets
    * (`summarization.py:132-146`): title + summary, summary capped at
    * 2000 chars on the first summarization, 1500 after.
    */
  private def articleFragment(title: Column, summary: Column, resummarize: Column): Column =
    concat(
      lit("title: "), title, lit(", summary: "),
      when(resummarize, substring(summary, 1, 1500))
        .otherwise(substring(summary, 1, 2000)))

  /** A8 map-reduce summarize over the articles of each triggered cluster.
    *
    * Input: article rows `(PK, title, summary, publication_date)` of the
    * triggered clusters, plus metadata `(PK, generated_summary,
    * summary_count)`. Output per PK: `(PK, description, generated_summary)`
    * — the stub "LLM" emits `<title>…</title><summary>…</summary>` text
    * (truncated prompt, 12k cap) and P12 parses it back out, exercising
    * the same tag-extraction path as the reference
    * (`summarization.py:121-127`).
    */
  /** Articles admitted to one prompt. The 12 000-char prompt cap is
    * reached within 600 minimal fragments ("title: , summary: \n" ≥ 20
    * chars), so capping BEFORE `collect_list` changes nothing
    * semantically — but stops a viral cluster from materializing its
    * whole membership in one aggregation buffer (VERDICT r1 perf audit).
    */
  val PromptArticleCap = 640

  def summarizeClusters(articles: DataFrame, meta: DataFrame): DataFrame = {
    val rankW = Window.partitionBy(col("PK"))
      .orderBy(col("publication_date").asc, col("article_id").asc)
    val frags = articles
      .withColumn("__rk", row_number().over(rankW))
      .filter(col("__rk") <= PromptArticleCap)
      .drop("__rk")
      .join(meta.select(col("PK"), col("summary_count")), "PK")
      .withColumn("frag",
        articleFragment(col("title"), col("summary"), col("summary_count") > 0))
      // deterministic article order: publication_date then article_id
      .groupBy(col("PK"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(
              col("publication_date").as("d"),
              col("article_id").as("i"),
              col("frag").as("f"),
              col("title").as("t")))),
            x => x.getField("f")),
          "\n").as("prompt_body"),
        min(struct(col("publication_date"), col("article_id"), col("title")))
          .getField("title").as("first_title"))
      // prompt cap (reference `summarization.py:146`)
      .withColumn("prompt", substring(col("prompt_body"), 1, 12000))
      // ---- deterministic "LLM": echo first title + leading prompt text
      .withColumn("llm_out",
        concat(
          lit("<title>"), col("first_title"), lit("</title>"),
          lit("<summary>"), substring(col("prompt"), 1, 400), lit("</summary>")))
      // P12 tag extraction with raw-text fallback (`summarization.py:121-127`)
      .withColumn("description",
        when(col("llm_out").rlike("(?s)<title>.*?</title>"),
          regexp_extract(col("llm_out"), "(?s)<title>(.*?)</title>", 1))
          .otherwise(lit("<Title>")))
      .withColumn("generated_summary",
        when(col("llm_out").rlike("(?s)<summary>.*?</summary>"),
          regexp_extract(col("llm_out"), "(?s)<summary>(.*?)</summary>", 1))
          .otherwise(col("llm_out")))
    frags.select(col("PK"), col("description"), col("generated_summary"))
  }

  /** A6: deterministic mode over an exploded string-array column —
    * highest count wins, ties broken by value (the reference's
    * `Counter.most_common(1)` is insertion-ordered; we pin a total
    * order so results are stable). Empty/null-safe ("" when no values,
    * mirroring `summarization.py:46-53` empty-safe behavior).
    */
  def mostCommon(articles: DataFrame, arrayCol: String): DataFrame = {
    val exploded = articles
      .select(col("PK"), explode_outer(col(arrayCol)).as("v"))
      .filter(col("v").isNotNull && col("v") =!= "")
      .groupBy(col("PK"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("PK")).orderBy(col("c").desc, col("v").asc)
    exploded
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("PK"), col("v").as(s"most_common_$arrayCol"))
  }

  /** A7: earliest/latest publication date per cluster, rendered
    * "yyyy-MM-dd HH:mm:ss" (reference `summarization.py:30-60`).
    */
  def dateRange(articles: DataFrame): DataFrame =
    articles
      .withColumn("ts", try_to_timestamp(regexp_replace(col("publication_date"), "Z$", "")))
      .groupBy(col("PK"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("earliest_date"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("latest_date"))

  /** A6 + A7 in one pass — the per-batch roll-up the summarization
    * writeback consumes. Same results as `mostCommon(locations)` ⊕
    * `mostCommon(organizations)` ⊕ `dateRange`, but two aggregations
    * instead of three aggregations + two rank windows + three joins:
    * both arrays explode into (kind, value) rows (explode_outer keeps
    * array-less articles so their dates still count; duplication can't
    * move a min/max), and the mode is an arg-min over (−count, value) —
    * the exact (count desc, value asc) tie rule of `mostCommon`, with
    * null ordering skipping invalid rows for the other kind.
    */
  def clusterStats(articles: DataFrame): DataFrame = {
    def tagged(c: String): Column =
      coalesce(
        transform(col(c), v => struct(lit(c).as("k"), v.as("v"))),
        array().cast("array<struct<k:string,v:string>>"))
    val kv = articles
      .select(col("PK"),
        try_to_timestamp(regexp_replace(col("publication_date"), "Z$", "")).as("ts"),
        explode_outer(concat(tagged("locations"), tagged("organizations"))).as("e"))
      .select(col("PK"), col("ts"), col("e.k").as("k"), col("e.v").as("v"))
    val counts = kv
      .groupBy(col("PK"), col("k"), col("v"))
      .agg(
        count(when(col("v").isNotNull && col("v") =!= "", 1)).as("c"),
        min(col("ts")).as("mnts"), max(col("ts")).as("mxts"))
    def modeOf(kind: String): Column =
      min_by(col("v"), when(col("k") === kind && col("c") > 0,
        struct((-col("c")).as("nc"), col("v"))))
    counts.groupBy(col("PK")).agg(
      modeOf("locations").as("most_common_locations"),
      modeOf("organizations").as("most_common_organizations"),
      date_format(min(col("mnts")), "yyyy-MM-dd HH:mm:ss").as("earliest_date"),
      date_format(max(col("mxts")), "yyyy-MM-dd HH:mm:ss").as("latest_date"))
  }
}
