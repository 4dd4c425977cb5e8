package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03;
  * the MOSS fingerprint). Fills the reference pipeline's
  * document-fingerprinting slot (cf. news-clustering's per-article
  * dedup identity keys) with the LOCAL fingerprint a training-data
  * pipeline needs for containment/overlap detection, not just whole-doc
  * identity.
  *
  * Semantics: normalize (lower, collapse whitespace), hash every
  * character k-gram, slide a window of `w` consecutive k-gram hashes,
  * and in each window select the minimum hash — ties broken by the
  * RIGHTMOST position, per the paper. The selected (position, hash)
  * pairs are the fingerprint. Guarantees: every `w` consecutive k-grams
  * contribute at least one fingerprint (so any shared substring of
  * length ≥ k + w − 1 is detected), and expected density is 2/(w+1).
  *
  * Portability: the k-gram hash is the first 7 hex digits of md5 — a
  * 28-bit integer DuckDB reproduces digit-by-digit. Tie-break is encoded
  * arithmetically so both engines run the identical argmin: the window
  * minimum is taken over v = h·2^32 + (2^32−1−pos), which orders first
  * by hash, then by DESCENDING position — max v is h = 2^28−1,
  * pos = 1 → v < 2^60, no overflow.
  *
  * Plan shape (optimization r14): the whole per-document pipeline —
  * k-gram md5, position tag, sliding minimum, consecutive-selection
  * dedup — is ONE fused expression evaluation per document
  * ([[graft.functions.WinnowFingerprints]]), then a single explode of
  * the selected pairs. The former dataflow form exploded one row per
  * CHARACTER (~3 000 rows per prose document), paid a corpus×3000-row
  * hash exchange on the id and two window sorts to compute what is a
  * per-document function; the fused form has NO exchange at all before
  * aggregation, identical output (spec-pinned against the dataflow
  * replica, including multi-byte characters — substringSQL is the same
  * substring() the SQL form used). Guide §2.4 (remove the shuffle
  * outright) + §4 (the per-gram md5 stays a tight JVM loop, not an
  * interpreted higher-order lambda — the array-HOF rewrite was probed
  * and is orders slower). Corpus-linear at 100 TB; no cross-document
  * shuffle at all.
  */
object Winnowing {

  /** Fingerprints of `textCol`: (idCol, pos, fp) — `pos` the 1-based
    * character position of the selected k-gram in the normalized text,
    * `fp` its 28-bit hash. Documents shorter than k + w − 1 normalized
    * chars have no full window and yield no rows (documented; both
    * engines agree).
    */
  def fingerprints(corpus: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0)
    val id = col(idCol)
    corpus
      .select(id, regexp_replace(lower(trim(col(textCol))), "\\s+", " ").as("__t"))
      .filter(length(col("__t")) >= k + w - 1)
      .select(id, explode(graft.functions.TextFns
        .winnowFingerprints(col("__t"), k, w)).as("__s"))
      .select(id, col("__s.pos").as("pos"), col("__s.fp").as("fp"))
  }

  /** Containment pairs `(a, b, shared, fpa, fpb, containment)` with
    * `a < b`: documents sharing ≥ 1 winnowing fingerprint, scored by
    * `shared / min(fpa, fpb)` — the asymmetric-overlap measure that
    * catches a short document EMBEDDED in a long one, which symmetric
    * Jaccard dilutes away. The winnowing guarantee makes this sound:
    * any shared substring of ≥ k + w − 1 characters contributes at
    * least one common fingerprint.
    *
    * `maxDf` drops fingerprints selected in more than that many
    * documents before pairing — 28-bit hashes of COMMON k-grams
    * ("the and…", site boilerplate) would otherwise each fan out df²
    * candidate pairs; capping df bounds the join's hot keys, exactly
    * the d11 `maxGramDf` hazard. Sizes `fpa`/`fpb` count the SAME
    * capped set, so containment stays a ratio over one universe
    * (a boilerplate-only document simply exits the query).
    *
    * Choosing `k`: winnowing selects MINIMUM hashes, so selections are
    * biased toward whatever grams are corpus-common — on repetitive
    * corpora a short `k` makes most selected fingerprints hot keys and
    * the df cap starts deciding results instead of guarding them
    * (measured at sf0.1: k=8 → sum(df²) 232M candidate rows, k=24 →
    * 454k). For containment detection prefer k large enough that a
    * k-gram is distinctive (16-32 chars); the detection floor is
    * shared runs of k + w − 1 characters.
    *
    * Plan shape: the fingerprint pass (one per-doc exchange), a
    * distinct + df aggregate on `fp`, then ONE fp equi-join whose key
    * cardinality is bounded by `maxDf` — corpus-linear candidates, no
    * cartesian, partitionable at 100 TB. Nothing is persisted.
    */
  def containmentPairs(corpus: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, w: Int = 4, tau: Double = 0.5,
                       maxDf: Long = 1000L): DataFrame = {
    val fps = fingerprints(corpus, idCol, textCol, k, w)
      .select(col(idCol).as("__id"), col("fp")).distinct()
    // `kept` feeds three consumers (both shared-join sides and the
    // per-doc sizes). The r14 round persisted it eagerly on the grounds
    // that the pre-fusion pipeline recomputed per consumer — but that
    // diagnosis predated the fused fingerprint expression (the
    // per-character explode and both window sorts are gone, so the
    // recompute is one cheap fused pass whose exchanges dedup), and the
    // persist measured NEUTRAL at sf0.1 (4.09 → 4.37 s) and a LOSS at
    // 10× the corpus (interleaved draws, OPTIMIZATION_r15.md: persist
    // [11.5, 9.0] vs recompute [10.0, 9.0] s) — prove-or-drop resolved
    // to DROP (optimization r15, guide §1.1/§5: a persist that never
    // pays for itself is pure memory pressure at 100 TB).
    val kept = fps
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("__df") <= maxDf)
      .select(col("__id"), col("fp"))
    val sizes = kept.groupBy(col("__id")).agg(count(lit(1)).as("__n"))
    val shared = kept.select(col("__id").as("a"), col("fp"))
      .join(kept.select(col("__id").as("b"), col("fp")), "fp")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("__id").as("a"), col("__n").as("fpa")), "a")
      .join(sizes.select(col("__id").as("b"), col("__n").as("fpb")), "b")
      .withColumn("containment",
        round(col("shared") * lit(1.0) / least(col("fpa"), col("fpb")), 6))
      .filter(col("containment") >= tau)
      .select(col("a"), col("b"), col("shared"), col("fpa"), col("fpb"),
        col("containment"))
  }
}
