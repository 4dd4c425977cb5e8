package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schemas.Schemas

/** The single clusters table — the engine's query surface, mirroring the
  * reference's DynamoDB single-table design (SURVEY §1.2, S9-S16):
  * metadata rows (`SK = #METADATA#<PK>`) + article rows
  * (`SK = ARTICLE#<article_id>`), upserted per micro-batch with
  * last-writer-wins (PK,SK) dedup (`process_records.py:266-273`).
  *
  * v0 persistence is read-modify-write parquet via [[ClusterStore]]; at
  * 100 TB the same `merge` becomes a partition-pruned rewrite (bucketBy
  * PK) or a Delta-style MERGE — the dataflow below is unchanged.
  */
object ClusterTable {

  def emptyTable(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.clusters)

  /** Build the per-batch upsert rows from clustering assignments (S9 +
    * A4 + J2).
    *
    * @param table       current clusters table
    * @param assignments Clustering.StepResult.assignments
    * @param articles    preprocessed article payloads for the batch
    *                    (id, title, summary, text, organizations?,
    *                    locations?, publication_date)
    * @param clock       injectable timestamp string (determinism — the
    *                    reference stamps wall-clock ISO timestamps,
    *                    `process_records.py:223,254`)
    */
  def upsertRows(table: DataFrame, assignments: DataFrame, articles: DataFrame,
                 clock: String): DataFrame = {
    val spark = table.sparkSession

    val arts = {
      val base = articles
      val withOrgs =
        if (base.columns.contains("organizations")) base
        else base.withColumn("organizations", lit(null).cast("array<string>"))
      if (withOrgs.columns.contains("locations")) withOrgs
      else withOrgs.withColumn("locations", lit(null).cast("array<string>"))
    }

    // J2: assignment → article payload lookup. Both sides are one batch
    // (≤500 rows); misses tolerated with stub columns (reference
    // bug-workaround `process_records.py:234-263`). The hint goes on the
    // RIGHT side: a left-outer BroadcastHashJoin can only build right —
    // a build-left hint is silently ignored and falls back to SMJ.
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

    // S10/J3: per-cluster batch counts × existing metadata
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

    // Scale guard: `existingMeta` derives from the FULL table — at 100 TB
    // that is every cluster ever seen. Semi-filter it to the batch's
    // touched PKs first (broadcast-right semi: the big side streams with
    // no shuffle), so the outer join below is batch-bounded × batch-
    // bounded and the broadcast hint is actually honored (build right).
    val touchedMeta = existingMeta
      .join(broadcast(perCluster.select(col("cluster_id").as("PK"))), Seq("PK"), "left_semi")

    // A4 counter arithmetic — reference quirks preserved as spec
    // (`process_records.py:204-232`): existing meta += batch_new − 1;
    // new meta = batch_new + 1.
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

    // last-writer-wins (PK,SK) dedup within the batch
    articleRows.unionByName(metadataRows).dropDuplicates("PK", "SK")
  }

  /** Merge upsert rows into the table: replaced keys drop out via
    * left-anti, new rows union in. The upsert side is batch-bounded —
    * broadcast it so the (big) table side streams through with no
    * shuffle at any scale.
    */
  def merge(table: DataFrame, upserts: DataFrame): DataFrame =
    table.join(broadcast(upserts.select("PK", "SK")), Seq("PK", "SK"), "left_anti")
      .unionByName(upserts)

  /** ST5 + A8 + A6/A7 + S16: evaluate the trigger on freshly upserted
    * metadata, summarize fired clusters from their article rows, and
    * write the summary columns back (SET-style update of the metadata
    * row, `summarization_pipeline.tf:24-58`).
    *
    * Runs EAGERLY: the call itself executes one `collect` of the fired
    * clusters' update rows, which reads `table` (the trigger, the
    * fired clusters' articles). Only the returned frame is lazy. With
    * no cluster fired it returns `table` itself. Callers that read
    * `table` again, e.g. to write the result, should materialize it
    * first or it is computed twice.
    */
  def summarizePass(table: DataFrame, updatedPKs: DataFrame, threshold: Int = 5): DataFrame = {
    val spark = table.sparkSession
    val meta = table.filter(col("row_type") === "metadata")
      .join(broadcast(updatedPKs), Seq("PK"), "left_semi")
    // No fired.isEmpty short-circuit: that was a driver action per
    // micro-batch (VERDICT r10 #3). With zero fired clusters the lazy
    // dataflow below degenerates to merge(table, ∅) ≡ table — identical
    // rows, no extra scan (the anti join against an empty broadcast
    // passes everything through in the same single pass).
    val fired = meta.filter(
      Summarize.shouldSummarize(col("number_of_articles"), col("summary_count"), threshold))
      .select(col("PK"), col("summary_count"))

    val arts = table.filter(col("row_type") === "article")
      .join(broadcast(fired.select(col("PK"))), Seq("PK"), "left_semi")
      .select(col("PK"), col("article_id"), col("title"), col("summary"),
        col("publication_date"), col("organizations"), col("locations"))

    val summaries = Summarize.summarizeClusters(arts, fired)
    // A6 modes + A7 date range fused into one roll-up (two aggregations
    // instead of three aggregations + two rank windows + three joins)
    val stats = Summarize.clusterStats(arts)

    val updatesPlan = summaries
      .join(stats, Seq("PK"), "left_outer")
      .select(
        col("PK"),
        col("description").as("u_desc"),
        col("generated_summary").as("u_sum"),
        col("most_common_locations").as("u_loc"),
        col("most_common_organizations").as("u_org"),
        col("earliest_date").as("u_ed"),
        col("latest_date").as("u_ld"))

    // ONE driver materialization of the per-fired-cluster update rows
    // (optimization r15, guide §1.2 — the VERDICT r14 #3 broadcast-chain
    // collapse). The frame was ALREADY collected to the driver by the
    // old plan's `broadcast(updates)`, so the memory bound is unchanged
    // (fired clusters per batch × capped summary strings); what changes
    // is the JOB SHAPE: rebuilt as a LocalRelation, the updates
    // broadcast and the merge anti-key broadcast below no longer rerun
    // the updates plan, and the anti keys no longer re-scan the table
    // to re-derive (PK, SK) the driver already holds. Each of the two
    // broadcasts is still one 1-stage job at the table write (on Spark
    // 4.1.2 every broadcast of a LocalRelation is). Zero-fired batches
    // skip the no-op merge pass entirely (identical rows either way —
    // the anti join against an empty key set passed everything through).
    val updatesRows = updatesPlan.collect()
    if (updatesRows.isEmpty) return table
    val updates = spark.createDataFrame(
      java.util.Arrays.asList(updatesRows: _*), updatesPlan.schema)

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

    // merge(table, newMeta) with the anti keys DERIVED LOCALLY instead
    // of broadcast-re-scanning the table: newMeta's keys are exactly
    // (PK ∈ updates with a metadata row, "#METADATA#" + PK) — metadata
    // SKs are constructed that way at upsert. Anti-joining on the
    // constructed key set is row-identical even if an updates PK had no
    // metadata row (then neither side touches it: the anti key matches
    // nothing and newMeta carries no row).
    val updKeys = updates.select(
      col("PK"), concat(lit("#METADATA#"), col("PK")).as("SK"))
    table.join(broadcast(updKeys), Seq("PK", "SK"), "left_anti")
      .unionByName(newMeta)
  }

  /** A9 — the flagship UI query (reference
    * `ClusterList-js.template:89-120`): clusters that are real clusters,
    * have a non-empty summary, and more than 2 dated articles; sorted by
    * size desc, ties by PK.
    *
    * One `groupBy(PK)` pass yields both the dated-article count and the
    * metadata row's columns (`max(when(row_type = metadata, c))`), and
    * the eligibility filter runs on its output. The `max` is exact
    * because the table keeps (PK, SK) unique and a metadata row's SK is
    * `#METADATA#<PK>`, so each PK has at most one metadata row; a PK
    * without one gets a null `is_cluster` and is not listed. Plan: one
    * hash exchange on PK and no join, so an action runs 2 Spark jobs
    * under AQE (the shuffle map stage, then the result) and 1 without.
    * The string `max` makes it a sort aggregate; filtering the input to
    * listable metadata and dated article rows first measured slower.
    *
    * The eligible rows are sorted after `coalesce(1)`, which also runs
    * the final aggregate in a single task and skips the range sort's
    * sampling job. That is cheap while the table holds thousands of
    * clusters. When one task over every PK's partial aggregate becomes
    * the bottleneck, drop the `coalesce(1)` and let the `orderBy`
    * range-partition (one sampling job more).
    */
  def uiClusterList(table: DataFrame): DataFrame = {
    val isMeta = col("row_type") === "metadata"
    val dated = col("row_type") === "article" &&
      col("publication_date").isNotNull && col("publication_date") =!= ""
    def meta(c: String) = max(when(isMeta, col(c))).as(c)
    table.groupBy(col("PK"))
      .agg(count(when(dated, 1)).as("article_count"),
        Seq("is_cluster", "description", "generated_summary", "number_of_articles",
          "most_common_location", "most_common_organization", "earliest_date",
          "latest_date").map(meta): _*)
      .filter(col("is_cluster") && col("generated_summary") =!= "" &&
        col("article_count") > 2)
      .select(col("PK"), col("description"), col("generated_summary"),
        col("number_of_articles"), col("article_count"),
        col("most_common_location"), col("most_common_organization"),
        col("earliest_date"), col("latest_date"))
      .coalesce(1)
      .orderBy(col("number_of_articles").desc, col("PK"))
  }
}
