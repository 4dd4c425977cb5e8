package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.schemas.Schemas

/** The single clusters table — the engine's query surface, mirroring the
  * reference's DynamoDB single-table design (SURVEY §1.2, S9-S16):
  * metadata rows (`SK = #METADATA#<PK>`) + article rows
  * (`SK = ARTICLE#<article_id>`), upserted per micro-batch with
  * last-writer-wins (PK,SK) dedup (`process_records.py:266-273`).
  *
  * A micro-batch's update is bounded by the batch, so it is computed
  * eagerly on the driver, as the reference computes it in plain Python
  * over the batch's rows (`process_records.py:204-273`): [[upsertRows]]
  * and the inline summarize pass read only the touched clusters' rows
  * from the table and hand back local relations. Only [[merge]] and
  * [[summarizePass]]'s result stream the whole table, lazily, for the
  * one write of the next version.
  *
  * The serving copy is [[ClusterStore]], a bucketed parquet store whose
  * touched buckets are rewritten from this table after each micro-batch
  * ([[ClusterStore.rebuildBucketsFor]]); the dataflow below does not
  * depend on it.
  */
object ClusterTable {

  def emptyTable(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.clusters)

  /** Build the per-batch upsert rows from clustering assignments (S9 +
    * A4 + J2), on the driver.
    *
    * Runs EAGERLY and schedules one Spark job: the filtered read of the
    * touched clusters' metadata rows from `table` (PK IN the
    * assignments' cluster ids). `assignments` and `articles` are
    * collected; a micro-batch hands both over as local relations, so
    * that costs no job. The result is a local relation in one
    * partition: nothing to free, and any number of readers see the same
    * rows without recomputing them.
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
                 clock: String): DataFrame =
    local(table.sparkSession, upsertLocal(table, assignments, articles, clock))

  /** The batch's rows of the clusters table as a local relation in one
    * partition, so a version written from it gains one file. */
  private[graft] def local(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Schemas.clusters).coalesce(1)

  private def boxed(r: Row, i: Int): Integer =
    if (r.isNullAt(i)) null else Int.box(r.getInt(i))

  /** Rows by their first column; the first row of a repeated key wins. */
  private def firstByKey(rows: Array[Row]): Map[String, Row] =
    rows.reverseIterator.map(r => r.getString(0) -> r).toMap

  private val ArticleCols =
    Seq("id", "title", "summary", "text", "organizations", "locations", "publication_date")

  private val MetaCols = Seq("PK", "created_at", "number_of_articles", "generated_summary",
    "summary_count", "description", "most_common_location", "most_common_organization",
    "earliest_date", "latest_date")

  /** [[upsertRows]]'s rows, in Schemas.clusters order: one article row
    * per assignment, in assignment order, then one metadata row per
    * (cluster, is_cluster), in first-seen order; the first row of a
    * repeated (PK, SK) wins. */
  private[graft] def upsertLocal(table: DataFrame, assignments: DataFrame,
                                 articles: DataFrame, clock: String): Array[Row] = {
    val asg = assignments.select("article_id", "cluster_id", "is_cluster", "batch_new").collect()

    // J2: assignment → article payload; a miss leaves stub columns
    // (reference bug-workaround `process_records.py:234-263`), a
    // missing organizations/locations column reads as null
    val present = ArticleCols.filter(articles.columns.contains)
    val payload = firstByKey(articles.select(present.map(col): _*).collect())
    def field(r: Option[Row], c: String): Any =
      r.filter(_ => present.contains(c)).map(_.get(present.indexOf(c))).orNull
    def orEmpty(v: Any): Any = if (v == null) "" else v
    val articleRows = asg.map { a =>
      val id = a.getString(0)
      val p = Option(id).flatMap(payload.get)
      Row(a.getString(1), if (id == null) null else "ARTICLE#" + id, "article",
        null, null, null, null, null, null, null, null, null, null,
        id, orEmpty(field(p, "title")), orEmpty(field(p, "summary")),
        orEmpty(field(p, "text")), field(p, "organizations"), field(p, "locations"),
        orEmpty(field(p, "publication_date")), clock)
    }

    // S10/J3: per-cluster batch counts × the touched clusters' existing
    // metadata, read with the PK filter so the scan returns only them
    def clusterOf(a: Row) = (a.getString(1), a.get(2))
    val perCluster = asg.groupBy(clusterOf)
    val clusters = asg.map(clusterOf).distinct
    val pks = clusters.flatMap(c => Option(c._1)).distinct
    val existing =
      if (pks.isEmpty) Map.empty[String, Row]
      else firstByKey(table.filter(col("row_type") === "metadata" && col("PK").isin(pks: _*))
        .select(MetaCols.map(col): _*).collect())

    // A4 counter arithmetic — reference quirks preserved as spec
    // (`process_records.py:204-232`): existing meta += batch_new − 1;
    // new meta = batch_new + 1.
    val metadataRows = clusters.map { case key @ (pk, isCluster) =>
      val news = perCluster(key).flatMap(a => Option(boxed(a, 3)).map(_.intValue))
      val batchNew: Integer = if (news.isEmpty) null else Int.box(news.max)
      val old = Option(pk).flatMap(existing.get)
      def was(c: String): Any = old.map(_.get(MetaCols.indexOf(c))).orNull
      val oldN = old.map(boxed(_, MetaCols.indexOf("number_of_articles"))).orNull
      val n: Integer =
        if (batchNew == null) null
        else if (oldN != null)
          Int.box(Math.subtractExact(Math.addExact(oldN.intValue, batchNew.intValue), 1))
        else Int.box(Math.addExact(batchNew.intValue, 1))
      Row(pk, if (pk == null) null else "#METADATA#" + pk, "metadata",
        Option(was("created_at")).getOrElse(clock), n,
        orEmpty(was("generated_summary")), Option(was("summary_count")).getOrElse(0),
        orEmpty(was("description")), isCluster,
        was("most_common_location"), was("most_common_organization"),
        was("earliest_date"), was("latest_date"),
        null, null, null, null, null, null, null, null)
    }

    // last-writer-wins (PK,SK) dedup within the batch
    val seen = mutable.HashSet.empty[(String, String)]
    (articleRows ++ metadataRows).filter(r => seen.add((r.getString(0), r.getString(1))))
  }

  /** Merge upsert rows into the table: replaced keys drop out via
    * left-anti, new rows union in. The upsert side is batch-bounded —
    * broadcast it so the (big) table side streams through with no
    * shuffle at any scale.
    */
  def merge(table: DataFrame, upserts: DataFrame): DataFrame =
    table.join(broadcast(upserts.select("PK", "SK")), Seq("PK", "SK"), "left_anti")
      .unionByName(upserts)

  /** Fired clusters (PK, summary_count) among `meta`'s metadata rows:
    * the ST5 trigger (`trigger_sfn.py:45-55`). */
  private def fired(meta: DataFrame, threshold: Int): DataFrame =
    meta.filter(
      Summarize.shouldSummarize(col("number_of_articles"), col("summary_count"), threshold))
      .select(col("PK"), col("summary_count"))

  /** The columns of an article row the summarizer reads. */
  private val SummaryInput = Seq("PK", "article_id", "title", "summary", "publication_date",
    "organizations", "locations")

  /** A8 + A6/A7: per fired cluster, its summary and roll-up stats from
    * its article rows `arts` (PK, article_id, title, summary,
    * publication_date, organizations, locations), collected in ONE job
    * (optimization r15, guide §1.2: a driver materialization of the
    * per-fired-cluster update rows, bounded by fired clusters × capped
    * summary strings). The stats join to the summaries by a sort-merge
    * join: both sides come out of an aggregation by PK, so it needs no
    * broadcast job of its own. Columns: PK, u_desc, u_sum, u_loc, u_org,
    * u_ed, u_ld. */
  private def summaryUpdates(arts: DataFrame, firedMeta: DataFrame): (Array[Row], StructType) = {
    val summaries = Summarize.summarizeClusters(arts, firedMeta)
    // A6 modes + A7 date range fused into one roll-up (two aggregations
    // instead of three aggregations + two rank windows + three joins)
    val stats = Summarize.clusterStats(arts)
    val plan = summaries
      .join(stats.hint("merge"), Seq("PK"), "left_outer")
      .select(
        col("PK"),
        col("description").as("u_desc"),
        col("generated_summary").as("u_sum"),
        col("most_common_locations").as("u_loc"),
        col("most_common_organizations").as("u_org"),
        col("earliest_date").as("u_ed"),
        col("latest_date").as("u_ld"))
    (plan.collect(), plan.schema)
  }

  /** S16 write-back (SET-style update of the metadata row,
    * `summarization_pipeline.tf:24-58`): metadata rows joined with their
    * cluster's update columns (u_*), projected back to the clusters
    * schema with the summary columns replaced and summary_count bumped.
    * The one definition both summarize paths use. */
  private def writeBack(metaWithUpdates: DataFrame): DataFrame =
    metaWithUpdates
      .withColumn("generated_summary", col("u_sum"))
      .withColumn("description", col("u_desc"))
      .withColumn("most_common_location", coalesce(col("u_loc"), lit("")))
      .withColumn("most_common_organization", coalesce(col("u_org"), lit("")))
      .withColumn("earliest_date", col("u_ed"))
      .withColumn("latest_date", col("u_ld"))
      .withColumn("summary_count", col("summary_count") + 1)
      .select(Schemas.clusters.fieldNames.map(col): _*)

  /** The inline summarize pass over a batch's upsert rows `ups`
    * ([[upsertLocal]]) before they merge into `table`: the rows of
    * [[summarizePass]]`(merge(table, ups), ups' PKs)` that differ from
    * `merge(table, ups)` are exactly `ups`' metadata rows of the
    * clusters that got a summary, so those rows come back rewritten and
    * every other row as it was, in place. Equal to that chain bit for
    * bit, without materializing the merged table:
    *   - the trigger reads `ups`' metadata rows, which are the merged
    *     table's metadata rows of the batch's clusters (no job);
    *   - the fired clusters' merged article rows are `table`'s article
    *     rows of those PKs minus the keys `ups` replaces, plus `ups`'
    *     article rows of those PKs. One filtered read collects the
    *     former, and the summarizer runs over all of them as a local
    *     relation in one partition ([[summaryUpdates]], one job with no
    *     broadcast);
    *   - the write-back is [[writeBack]] over a local relation, so it
    *     runs on the driver.
    * The article rows are batch-bounded: a cluster fires again only
    * below 3 × threshold articles, and a first summary's cluster was
    * under the threshold in every part it merged from. Runs those two
    * jobs when a cluster fires, and none otherwise.
    */
  private[graft] def summarizeLocal(table: DataFrame, ups: Array[Row],
                                    threshold: Int): Array[Row] = {
    val spark = table.sparkSession
    val meta = ups.filter(_.getString(2) == "metadata")
    val firedRows = fired(spark.createDataFrame(meta.toSeq.asJava, Schemas.clusters), threshold)
      .collect()
    if (firedRows.isEmpty) return ups
    val firedPKs = firedRows.map(_.getString(0)).toSet
    val replaced = ups.iterator.filter(r => firedPKs(r.getString(0)))
      .map(r => (r.getString(0), r.getString(1))).toSet
    val input = SummaryInput.map(Schemas.clusters.fieldIndex)
    val oldArts = table
      .filter(col("row_type") === "article" && col("PK").isin(firedPKs.toSeq: _*))
      .select((SummaryInput :+ "SK").map(col): _*).collect()
      .filter(r => !replaced((r.getString(0), r.getString(input.length))))
      .map(r => Row.fromSeq(r.toSeq.init))
    val newArts = ups.filter(r => r.getString(2) == "article" && firedPKs(r.getString(0)))
      .map(r => Row.fromSeq(input.map(r.get)))
    val arts = spark.createDataFrame((oldArts ++ newArts).toSeq.asJava,
      StructType(input.map(Schemas.clusters.fields(_)))).coalesce(1)
    val (updates, updateSchema) = summaryUpdates(arts,
      spark.createDataFrame(firedRows.toSeq.asJava, firedRows.head.schema).coalesce(1).hint("merge"))
    val byPK = updates.map(u => u.getString(0) -> u).toMap
    val at = ups.indices.filter(i => ups(i).getString(2) == "metadata" &&
      byPK.contains(ups(i).getString(0)))
    val rewritten = writeBack(spark.createDataFrame(
      at.map(i => Row.fromSeq(ups(i).toSeq ++ byPK(ups(i).getString(0)).toSeq.tail)).asJava,
      StructType(Schemas.clusters.fields ++ updateSchema.fields.tail))).collect()
    val out = ups.clone()
    at.zip(rewritten).foreach { case (i, r) => out(i) = r }
    out
  }

  /** A micro-batch's table update, on the driver: the upsert rows
    * ([[upsertRows]]) and the next table, `merge(table, ups′)`, where
    * `ups′` is the upsert rows after the inline summarize pass at
    * `summarizeAt`'s threshold ([[summarizeLocal]]), or the upsert rows
    * themselves when it is None. The upsert rows and `ups′` are local
    * relations in one partition; the next table is lazy, one scan of
    * `table` behind a broadcast of `ups′`' keys. Eager: one job reads the
    * touched clusters' metadata rows and, when a cluster fires, one job
    * reads the fired clusters' article rows and one summarizes them. */
  private[graft] def upsertBatch(table: DataFrame, assignments: DataFrame, articles: DataFrame,
                                 clock: String, summarizeAt: Option[Int]): (DataFrame, DataFrame) = {
    val spark = table.sparkSession
    val ups = upsertLocal(table, assignments, articles, clock)
    val summarized = summarizeAt.fold(ups)(summarizeLocal(table, ups, _))
    (local(spark, ups), merge(table, local(spark, summarized)))
  }

  /** ST5 + A8 + A6/A7 + S16: evaluate the trigger on freshly upserted
    * metadata, summarize fired clusters from their article rows, and
    * write the summary columns back (SET-style update of the metadata
    * row, `summarization_pipeline.tf:24-58`). `CdcConsumer` runs it
    * over a committed table version; a micro-batch runs the same pass
    * on its upsert rows instead ([[summarizeLocal]]).
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
    val firedMeta = fired(table.filter(col("row_type") === "metadata")
      .join(broadcast(updatedPKs), Seq("PK"), "left_semi"), threshold)
    val arts = table.filter(col("row_type") === "article")
      .join(broadcast(firedMeta.select(col("PK"))), Seq("PK"), "left_semi")
      .select(SummaryInput.map(col): _*)
    // Rebuilt as a LocalRelation, the update rows feed the two
    // broadcasts below without rerunning the summarizer, and the anti
    // keys need no re-scan of the table. Each broadcast is one 1-stage
    // job at the table write (on Spark 4.1.2 every broadcast of a
    // LocalRelation is). Zero-fired batches skip the no-op merge pass.
    val (updatesRows, updateSchema) = summaryUpdates(arts, firedMeta)
    if (updatesRows.isEmpty) return table
    val updates = spark.createDataFrame(updatesRows.toSeq.asJava, updateSchema)
    val newMeta = writeBack(table.filter(col("row_type") === "metadata")
      .join(broadcast(updates), Seq("PK"), "inner"))

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
