package newsbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingPipeline, TracedBatch}

/** Output checks. Each returns None when the output is right, or what
  * is wrong with it. */
object Checks {

  /** Order-free digest of a frame's rows: count and two hash sums. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.map(col)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"),
        hash(cols: _*).cast("decimal(38,0)").as("g"))
      .agg(count(lit(1)), sum("h"), sum("g")).head()
    s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
  }

  def tableDigest(s: SparkSession, state: String): String =
    digest(StreamingPipeline.latestTable(s, state))

  /** Every valid input article lands in exactly one cluster's article
    * rows, nothing else does, and the pool's `n_articles` sums to the
    * valid-input count. */
  def membership(s: SparkSession, state: String, lastBatch: Long, corpus: Corpus): Option[String] = {
    val rows = StreamingPipeline.latestTable(s, state)
      .filter(col("row_type") === "article")
      .groupBy("article_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = corpus.valid.flatten.toSet
    val missing = want.diff(rows.keySet)
    val extra = rows.keySet.diff(want)
    val repeated = rows.filter(_._2 != 1)
    val pooled = TracedBatch.poolAt(s, state, lastBatch)
      .agg(coalesce(sum("n_articles"), lit(0L))).head().getLong(0)
    val problems = Seq(
      if (missing.nonEmpty) Some(s"${missing.size} valid articles in no cluster") else None,
      if (extra.nonEmpty) Some(s"${extra.size} unexpected article rows") else None,
      if (repeated.nonEmpty) Some(s"${repeated.size} articles in more than one row") else None,
      if (pooled != want.size) Some(s"pool n_articles sums to $pooled, want ${want.size}") else None
    ).flatten
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  def same(what: String, a: String, b: String): Option[String] =
    if (a == b) None else Some(s"$what differ: $a vs $b")
}
