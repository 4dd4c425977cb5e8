package graft

import java.security.MessageDigest

import graft.operators.Winnowing

class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  /** Reference winnowing, straight from the paper: hash every k-gram,
    * take the min of each w-window (ties → rightmost position), keep a
    * selection only when it differs from the previous window's. Runs in
    * the driver over the same normalized text and the same 28-bit md5
    * hash as the operator.
    */
  private def naive(text: String, k: Int, w: Int): Seq[(Long, Long)] = {
    val t = text.trim.toLowerCase.replaceAll("\\s+", " ")
    if (t.length < k + w - 1) return Seq.empty
    val md = MessageDigest.getInstance("MD5")
    val hashes = (0 to t.length - k).map { i =>
      val hex = md.digest(t.substring(i, i + k).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(7), 16) // 28-bit
    }
    var prev = -1L
    val out = Seq.newBuilder[(Long, Long)]
    for (end <- (w - 1) until hashes.length) {
      val window = (end - w + 1) to end
      // min hash, ties broken by the RIGHTMOST position
      val sel = window.minBy(i => (hashes(i), -i))
      if (sel != prev) { out += ((sel + 1L, hashes(sel))); prev = sel }
    }
    out.result()
  }

  private def run(docs: Seq[(Long, String)], k: Int = 8, w: Int = 4): Map[Long, Seq[(Long, Long)]] =
    Winnowing.fingerprints(docs.toDF("id", "text"), "id", "text", k, w)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap

  test("matches the paper algorithm exactly on varied prose") {
    val docs = Seq(
      1L -> "The quick brown fox jumps over the lazy dog near the river bank.",
      2L -> "Sphinx of black quartz, judge my vow; pack my box with five dozen jugs.",
      3L -> "aaaaaaaaaaaaaaaaaaaaaaaa", // degenerate: all k-grams identical
      4L -> "Markets rallied on Tuesday as central banks signalled steady rates.")
    val got = run(docs)
    for ((id, text) <- docs)
      assert(got.getOrElse(id, Seq.empty) == naive(text, 8, 4).sortBy(_._1),
        s"doc $id fingerprints diverge from the reference algorithm")
  }

  test("matches the paper algorithm at the catalog's containment parameters (k=24, w=8)") {
    val docs = Seq(
      1L -> ("Quarterly earnings exceeded analyst expectations across every " +
        "segment, with cloud revenue growing fastest for the third year running."),
      2L -> "bbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbb") // degenerate at long k too
    val got = run(docs, k = 24, w = 8)
    for ((id, text) <- docs)
      assert(got.getOrElse(id, Seq.empty) == naive(text, 24, 8).sortBy(_._1),
        s"doc $id fingerprints diverge from the reference algorithm at k=24")
  }

  test("identical normalized text yields identical fingerprints (case/whitespace invariant)") {
    val docs = Seq(
      1L -> "Shared   Body OF text long enough to fingerprint reliably",
      2L -> "shared body of\ttext long enough to fingerprint reliably")
    val got = run(docs)
    assert(got(1L).nonEmpty && got(1L) == got(2L))
  }

  test("coverage guarantee: selected positions are never more than w apart") {
    val text = ('a' to 'z').mkString(" ") * 4
    val got = run(Seq(1L -> text))(1L)
    // re-derive window-end coverage from the naive run: every w-window
    // of k-grams must contain a selected position
    val sel = got.map(_._1).toSet
    val t = text.trim.toLowerCase.replaceAll("\\s+", " ")
    val nGrams = t.length - 8 + 1
    for (end <- 4 to nGrams)
      assert((end - 3 to end).exists(p => sel.contains(p.toLong)),
        s"window ending at $end has no selected fingerprint")
  }

  private def pairs(docs: Seq[(Long, String)], tau: Double = 0.5,
                    maxDf: Long = 1000L): Map[(Long, Long), Double] =
    Winnowing.containmentPairs(docs.toDF("id", "text"), "id", "text",
        tau = tau, maxDf = maxDf)
      .select("a", "b", "containment")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap

  test("a short doc embedded in a long one scores high containment where Jaccard dilutes") {
    val short_ = "breaking: the central bank raised its policy rate by fifty basis points today"
    val filler = (1 to 40).map(i => s"unrelated filler sentence number $i about various topics").mkString(". ")
    val docs = Seq(1L -> short_, 2L -> s"$filler. $short_. $filler")
    val got = pairs(docs)
    assert(got.contains((1L, 2L)), s"expected the embedded pair, got $got")
    assert(got((1L, 2L)) >= 0.9, s"containment should be ~1 for full embedding: $got")
    // symmetric Jaccard over the same pair is tiny — the measure d15 exists to beat
    val jac = graft.operators.JaccardJoin
      .selfPairs(docs.toDF("id", "text"), "id", "text", t = 0.1)._1
      .selectExpr("CAST(common AS DOUBLE) / (sza + szb - common) AS j")
      .as[Double].collect()
    assert(jac.isEmpty || jac.forall(_ < 0.2),
      s"Jaccard should dilute the embedded doc: ${jac.toSeq}")
  }

  test("unrelated documents do not pair") {
    val docs = Seq(
      1L -> "completely distinct text about astronomy telescopes and distant galaxies tonight",
      2L -> "a recipe for sourdough bread with a long fermentation and careful shaping")
    assert(pairs(docs).isEmpty)
  }

  test("maxDf drops boilerplate fingerprints from pairing and sizes") {
    val boiler = "standard legal disclaimer shared by every single document in this corpus"
    val docs = (1L to 6L).map(i =>
      i -> s"$boiler. unique body $i with its own words ${"x" + i} ${"y" + i} distinct content here")
    // with the cap at df<=2 the shared boilerplate can't pair all 15 combos
    val capped = pairs(docs, tau = 0.3, maxDf = 2)
    val uncapped = pairs(docs, tau = 0.3, maxDf = 1000)
    assert(uncapped.size >= capped.size)
    assert(capped.isEmpty, s"boilerplate-only overlap must not survive the df cap: $capped")
  }

  test("short documents yield no fingerprints") {
    assert(run(Seq(1L -> "tiny", 2L -> "exactly 10")).isEmpty)
    // k + w - 1 = 11 normalized chars is the minimum for one window
    assert(run(Seq(3L -> "elevenchars")).nonEmpty)
  }

  test("fused WinnowFingerprints expression matches the dataflow form bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    // the pre-r14 explode+window dataflow, inlined verbatim as the
    // reference implementation (the oracle replays this SQL shape)
    def dataflowForm(c: org.apache.spark.sql.DataFrame,
                     k: Int, w: Int): org.apache.spark.sql.DataFrame = {
      val id = col("doc_id")
      val grams = c
        .select(id, regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("__t"))
        .filter(length(col("__t")) >= k + w - 1)
        .select(id,
          explode(sequence(lit(1), length(col("__t")) - (k - 1))).as("__p"),
          col("__t"))
        .select(id, col("__p").cast("long").as("__pos"),
          conv(substring(md5(col("__t").substr(col("__p"), lit(k))), 1, 7), 16, 10)
            .cast("long").as("__h"))
        .withColumn("__v",
          col("__h") * 4294967296L + (lit(4294967295L) - col("__pos")))
      val byDoc = W.partitionBy(id).orderBy(col("__pos"))
      grams
        .withColumn("__vmin", min(col("__v")).over(byDoc.rowsBetween(-(w - 1), 0)))
        .filter(col("__pos") >= w)
        .select(id, col("__pos"),
          (lit(4294967295L) - pmod(col("__vmin"), lit(4294967296L))).as("pos"),
          shiftright(col("__vmin"), 32).as("fp"))
        .withColumn("__prev", lag(col("pos"), 1).over(byDoc))
        .filter(col("__prev").isNull || col("__prev") =!= col("pos"))
        .select(id, col("pos"), col("fp"))
    }
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again tonight",
      2L -> "the quick brown fox jumps over the lazy dog again and again tonight",
      3L -> ("boilerplate header. " * 4 + "unique middle body. " + "boilerplate footer. " * 4),
      // multi-byte characters: substring semantics must be per CHARACTER
      4L -> "héllo wörld — čhärs beyond ascii répéated héllo wörld — čhärs beyond ascii",
      5L -> "short",
      6L -> ("x" * 40)).toDF("doc_id", "text")
    for ((k, w) <- Seq((8, 4), (24, 8), (3, 2))) {
      val ref = dataflowForm(docs, k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      val got = graft.operators.Winnowing.fingerprints(docs, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(got == ref, s"fused winnowing diverged from the dataflow form at k=$k w=$w")
      assert(got.nonEmpty)
    }
  }

  test("containmentPairs leaves no pinned state behind") {
    import org.apache.spark.sql.functions.col
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = (1L to 4L).map(i =>
      i -> s"shared window of winnowed characters across docs plus unique tail $i ${"z" * 30}")
    val out = graft.operators.Winnowing.containmentPairs(
      spark.createDataFrame(docs).toDF("doc_id", "text"), "doc_id", "text",
      k = 8, w = 4, tau = 0.1, maxDf = 1000L)
    val rows = out.orderBy(col("a"), col("b")).collect()
    assert(rows.nonEmpty)
    // the r15 prove-or-drop removed the r14 kept-fingerprint persist (a
    // LOSS at 10× corpus): construction and execution pin nothing
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"containment pipeline pinned RDDs: ${after -- before}")
  }
}
