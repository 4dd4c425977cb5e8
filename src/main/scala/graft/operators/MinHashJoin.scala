package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** MinHash + LSH banding near-duplicate candidate join — the library
  * form of the d3 catalog query (classic Broder MinHash over word
  * shingles, banded so candidates come from an equi-join and never an
  * all-pairs scan).
  *
  * Signatures are ONE native-expression pass per document
  * ([[graft.functions.MinHashShingles]] — shingling fused in, no
  * explode, no per-seed min-aggregation shuffle); each signature splits
  * into `bands` groups of `hashes / bands` rows, and any shared
  * (band index, band hash) bucket yields a candidate pair. Probability
  * a pair with Jaccard j surfaces: 1 − (1 − j^(hashes/bands))^bands —
  * tune (hashes, bands) for the target similarity threshold.
  *
  * Output is CANDIDATES (a, b) with a < b — callers verify with the
  * exact measure of their choice (e.g. [[JaccardJoin]] semantics or a
  * direct shingle intersect) when false positives matter.
  */
object MinHashJoin {

  /** Candidate pairs, and a handle whose `close()` unpersists the
    * pinned signature frame; close after materializing the pairs (later
    * actions still compute correctly but recompute the signatures).
    */
  def selfPairs(corpus: DataFrame, idCol: String, textCol: String,
                shingleLen: Int = 3, hashes: Int = 12,
                bands: Int = 4): (DataFrame, AutoCloseable) = {
    require(bands > 0 && hashes % bands == 0,
      s"hashes ($hashes) must split evenly into bands ($bands)")
    // optimization r14: the signature pass (md5 MinHash over every
    // shingle of every document — the query's dominant CPU) fed both
    // self-join sides and was recomputed per side (one side inline, one
    // inside the broadcast build). Materialize it once, eagerly (a lazy
    // cache races concurrent consumers); band derivation stays a cheap
    // projection on top, so the join still carries flat band columns
    // only (PERF lesson #10 — the 1.8× array-payload trap — is about
    // riding the array THROUGH the join, not about this cache).
    val sigs = signatures(corpus, idCol, textCol, shingleLen, hashes)
    (bandJoin(sigs, hashes, bands), () => sigs.unpersist())
  }

  /** The persisted, eagerly materialized signature frame
    * `(__id, mhs: array<string>)` — shared by the band join and (in the
    * estimated form) the per-side score joins. */
  private def signatures(corpus: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int, hashes: Int): DataFrame = {
    val sigs = corpus
      .withColumn("__toks", TextFns.repetitionTokens(col(textCol)))
      .select(col(idCol).as("__id"),
        TextFns.minHashShingles(col("__toks"), shingleLen, hashes).as("mhs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    sigs
  }

  private def bandJoin(sigs: DataFrame, hashes: Int, bands: Int): DataFrame = {
    val rows = hashes / bands
    // every band hash rides along with each exploded band row (as FLAT
    // columns — an array<string> payload here measured 1.8× the whole
    // query: per-row UnsafeArrayData build/copy through project+join,
    // while flat columns are plain codegen field refs) so the post-join
    // dedup is a map-side predicate, not an exchange
    val bandCols = (0 until bands).map(bi =>
      md5(concat_ws(",",
        (0 until rows).map(r => element_at(col("mhs"), bi * rows + r + 1)): _*)).as(s"__b$bi"))
    val withBands = sigs.select(col("__id") +: bandCols: _*)
    val bandedCols: Seq[org.apache.spark.sql.Column] =
      col("__id") +: (0 until bands).map(bi => col(s"__b$bi")) :+
        posexplode(array((0 until bands).map(bi => col(s"__b$bi")): _*))
          .as(Seq("__bk", "__bh"))
    val banded = withBands.select(bandedCols: _*)
    // A near-dup pair agrees in SEVERAL bands and would surface once per
    // agreeing band; rather than a distinct() shuffle over the multiplied
    // candidates (VERDICT r5 — the one avoidable exchange in this plan),
    // keep a candidate only in the FIRST band where the band hashes agree
    // (same trick as SimHashJoin.banded): each pair leaves the join
    // exactly once and no dedup exchange exists at all.
    val firstAgreeingBand = (0 until bands).foldRight(lit(-1)) { (k, rest) =>
      when(col(s"x.__b$k") === col(s"y.__b$k"), lit(k)).otherwise(rest)
    }
    banded.as("x").join(banded.as("y"),
        col("x.__bk") === col("y.__bk") && col("x.__bh") === col("y.__bh") &&
          col("x.__id") < col("y.__id"))
      .filter(col("x.__bk") === firstAgreeingBand)
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
  }

  /** [[selfPairs]] candidates scored with the MinHash Jaccard ESTIMATE
    * (Broder's original use of the sketch): est = (# agreeing signature
    * positions) / hashes, an unbiased estimator of the true Jaccard with
    * standard error 1/√hashes. This is the 100 TB scoring path — exact
    * verification intersects shingle sets (rescans text for every
    * candidate), the estimate touches only the fixed-width signatures.
    * The estimate joins read the SAME materialized signature frame the
    * band join consumed (optimization r14 — previously this recomputed
    * the signature pass per consumer, 4 passes per query; the signature
    * array still never rides THROUGH the band join, so PERF lesson
    * #10's 1.8× array-payload trap stays avoided). The agreement
    * count is an exact integer and `hashes` a constant, so the rounded
    * ratio is engine-portable (single exactly-rounded division).
    *
    * Returns the scored pairs and a handle whose `close()` unpersists
    * the pinned signature frame, as [[selfPairs]] does.
    */
  def selfPairsEstimated(corpus: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 3, hashes: Int = 12,
                         bands: Int = 4): (DataFrame, AutoCloseable) = {
    require(bands > 0 && hashes % bands == 0,
      s"hashes ($hashes) must split evenly into bands ($bands)")
    val sigs = signatures(corpus, idCol, textCol, shingleLen, hashes)
    val pairs = bandJoin(sigs, hashes, bands)
    val agree = aggregate(
      zip_with(col("__ma"), col("__mb"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val out = pairs
      .join(sigs.select(col("__id").as("a"), col("mhs").as("__ma")), "a")
      .join(sigs.select(col("__id").as("b"), col("mhs").as("__mb")), "b")
      .select(col("a"), col("b"),
        round(agree.cast("double") / lit(hashes.toDouble), 4).as("est_jaccard"))
    (out, () => sigs.unpersist())
  }
}
