package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}
import graft.operators.{Summarize, TemporalJoins}

/** Exact + near-duplicate detection operators (training-data pipeline).
  * Duplicates are injected deterministically (every 10th doc gets a
  * mutated copy at doc_id+1000000) so the checks are non-vacuous at
  * every sf.
  */
object DedupQueries {

  // one d18 epoch-index snapshot per corpus dir per JVM (the per-epoch
  // cadence made literal; scratch dirs are reaped at JVM exit)
  private val d18EpochDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def corpusWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val dups = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit("  ")).as("text"))
    docs.unionByName(dups)
  }

  private def corpusWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val dups = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" qq zz near dup pad")).as("text"))
    docs.unionByName(dups)
  }

  /** The shared d12/d14 dup-group machinery: PPJoin candidates, exact
    * Jaccard ≥ 0.5 verify, transitive closure. Returns
    * (node, component) for EVERY corpus doc (singletons are their own
    * component). One definition so the survivor-rule queries can never
    * disagree on what a dup group is. */
  /** Shared by d6 (union-find fast path) and d23 (distributed min-label
    * path): the oracle is the TRUE transitive closure, which both paths
    * must reproduce — component identity is path-independent.
    */
  private[graft] val d6OracleSql: String =
    """WITH RECURSIVE
      |p AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b,
      |    round(least(greatest(1 - list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 0), 1), 4) AS dist
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      |e AS (SELECT a, b FROM p WHERE dist <= 0.55),
      |edges AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      |reach(n, m) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.n, e2.dst FROM reach r JOIN edges e2 ON r.m = e2.src),
      |comp AS (
      |  SELECT n AS vec_id, least(n, min(m)) AS component
      |  FROM reach GROUP BY n),
      |sized AS (
      |  SELECT *, count(*) OVER (PARTITION BY component) AS group_size
      |  FROM comp)
      |SELECT vec_id, component, group_size, vec_id = component AS keep
      |FROM sized WHERE group_size > 1 ORDER BY vec_id""".stripMargin

  private def dupComponents(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithNearDups(s, dir)
    val (verified, _) = graft.operators.JaccardJoin
      .selfPairs(corpus, "doc_id", "text", t = 0.5)
    val pairs = verified
      .withColumn("jaccard",
        round(col("common") * lit(1.0) / (col("sza") + col("szb") - col("common")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("a"), col("b"))
    graft.operators.ConnectedComponents.run(
      corpus.select(col("doc_id").as("node")),
      pairs.select(col("a").as("src"), col("b").as("dst")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: normalized-text fingerprint, keep-first (min id), count
    "d1_exact_dedup" -> ((s, dir) =>
      corpusWithExactDups(s, dir)
        .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .orderBy(col("keep_id"))),

    // near-dup detection: word-3-gram Jaccard via a PREFIX-FILTERED
    // inverted index (AllPairs/PPJoin lemma): under any global shingle
    // order, two sets with Jaccard ≥ t must share an element within the
    // first |d| − ⌈t·|d|⌉ + 1 shingles of each — so the index holds only
    // each doc's rarest-first prefix and candidate pairs never join on
    // hot shingles (a shingle shared by k docs otherwise contributes k²
    // join rows). Verification is an O(n+m) merge-scan intersect over
    // the full sorted shingle arrays — no re-explode, no per-pair
    // aggregation. Lossless: same result set as the naive index join.
    "d2_jaccard_pairs" -> ((s, dir) => {
      // PPJoin prefix-index candidates + merge-scan verify — the
      // JaccardJoin operator; BroadcastDocs verify is the single-node
      // choice, ShuffleDocs the cluster-scale one (JaccardJoinSpec pins
      // both to identical results)
      val (verified, _) = graft.operators.JaccardJoin
        .selfPairs(corpusWithNearDups(s, dir), "doc_id", "text", t = 0.5)
      verified
        .withColumn("jaccard",
          round(col("common") * lit(1.0) / (col("sza") + col("szb") - col("common")), 6))
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"), col("jaccard")).orderBy(col("a"), col("b"))
    }),

    // MinHash + LSH banding: 12 hashes (portable: string-min of seeded
    // md5), 4 bands × 3 rows; candidate pairs = any shared band bucket.
    // Signatures come from ONE native-expression pass per document
    // (MinHashShingles — shingling fused in, no explode, no 12-way
    // min-aggregation shuffle); candidates from an equi-join on
    // (band, hash) — never all-pairs.
    "d3_minhash_pairs" -> ((s, dir) => {
      val (pairs, _) = graft.operators.MinHashJoin
        .selfPairs(corpusWithNearDups(s, dir), "doc_id", "text",
          shingleLen = 3, hashes = 12, bands = 4)
      pairs.orderBy(col("a"), col("b"))
    }),

    // d3's candidates scored with the MinHash Jaccard ESTIMATE instead
    // of exact verification — the at-scale scoring path: agreement over
    // the fixed-width signatures (12 positions here), never a shingle
    // re-intersection. est = agree/hashes is an exact small-int ratio,
    // so the rounded value is engine-portable; the DuckDB oracle replays
    // signatures, banding, candidates, and the estimate.
    "d16_jaccard_estimate" -> ((s, dir) => {
      val (scored, _) = graft.operators.MinHashJoin
        .selfPairsEstimated(corpusWithNearDups(s, dir), "doc_id", "text",
          shingleLen = 3, hashes = 12, bands = 4)
      scored.orderBy(col("a"), col("b"))
    }),

    // SimHash near-dup: 32-bit signature (bit-majority over md5 nibbles
    // of every token), pairs at Hamming ≤ 6. Signatures are one
    // native-expression pass per document (TokenSimHash — replaces
    // explode + 32 bit-sum aggregations); the pair scan goes through
    // SimHashJoin's size gate — the O(N²) integer scan only below the
    // measured crossover, the lossless pigeonhole Hamming-band equi-join
    // (partitionable: shuffle key = band value) beyond it. Identical
    // results either way; the DuckDB oracle replays the all-pairs form.
    "d4_simhash_pairs" -> ((s, dir) => {
      val corpus = corpusWithNearDups(s, dir)
      val sigs = corpus
        .withColumn("__toks", split(lower(trim(col("text"))), "\\s+"))
        .select(col("doc_id"), TextFns.simHash(col("__toks"), 32).as("sim"))
      graft.operators.SimHashJoin
        .selfPairs(sigs, "doc_id", "sim", maxHamming = 6, bits = 32)
        .orderBy(col("a"), col("b"))
    }),

    // The SimHash configuration that actually scales: 64-bit signatures
    // at Hamming ≤ 3 (Manku/WWW'07 parameter regime — radius a small
    // fraction of the width), served by the pigeonhole Hamming-band
    // equi-join: 4 disjoint 16-bit bands, so candidate buckets shrink
    // by 2^16 and the shuffle key is the band value. Measured (probe,
    // this corpus): banded 0.7 s vs all-pairs 1.8 s at 44k docs, gap
    // growing quadratically — at 32-bit/6 (d4) banding CAN'T win (band
    // width ≤ 5 bits caps bucket reduction at ~24× and this corpus has
    // ~10% pair density, so the output itself is Θ(N²)).
    "d9_simhash64_band" -> ((s, dir) => {
      val corpus = corpusWithNearDups(s, dir)
      val sigs = corpus
        .withColumn("__toks", split(lower(trim(col("text"))), "\\s+"))
        .select(col("doc_id"), TextFns.simHash(col("__toks"), 64).as("sim"))
      graft.operators.SimHashJoin
        .selfPairs(sigs, "doc_id", "sim", maxHamming = 3, bits = 64,
          strategy = graft.operators.SimHashJoin.HammingBand)
        .orderBy(col("a"), col("b"))
    }),

    // Segment-level dedup (the CCNet/line-dedup shape with 10-token
    // segments standing in for lines — this corpus has no newlines):
    // hash-shuffle segments, count document frequency, report each doc's
    // boilerplate ratio (segments shared with ≥1 other doc). Two
    // shuffles total (segment df + doc regroup), no pairwise join — and
    // run via the 100 TB digest path: both exchanges carry the 16-byte
    // md5 of each segment, never the raw string (the oracle replays md5
    // in DuckDB).
    "d10_segment_dedup" -> ((s, dir) =>
      graft.operators.SegmentDedup
        .stats(corpusWithNearDups(s, dir), "doc_id", "text", segLen = 10, minDf = 2,
          digestKey = true)
        .orderBy(col("doc_id"))),

    // Boilerplate REMOVAL (d10's CCNet decision APPLIED): segments shared
    // across documents are dropped and each document is reassembled from
    // its kept segments in original order — the transform that actually
    // produces the cleaned training corpus, where d10 only scores it.
    // Three corpus-linear shuffles (df agg, df join, doc regroup); md5
    // digest exchange keys on the df path (the 100 TB plan).
    "d17_boilerplate_strip" -> ((s, dir) =>
      graft.operators.SegmentDedup
        .strip(corpusWithNearDups(s, dir), "doc_id", "text", segLen = 10,
          maxDf = 1, digestKey = true)
        .orderBy(col("doc_id"))),

    // INCREMENTAL ingestion dedup — the asymmetric form of d2: a new
    // batch (every 10th doc, near-dup-padded, new ids) is verified
    // against the EXISTING corpus without re-deduplicating the corpus
    // against itself; probe-prefix × ref-prefix candidates only, so
    // ref×ref pairs never materialize and the work at 100 TB is
    // |delta|-proportional (the daily-delta production case — d2
    // re-runs the whole corpus, this runs the day's arrivals).
    "d18_incremental_dedup" -> ((s, dir) => {
      val ref = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val probe = ref.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" qq zz near dup pad")).as("text"))
      // census-driven verify form (VERDICT r11 #6): the delta pipeline
      // measures the candidate distribution and picks broadcast /
      // shuffle / salted per side instead of trusting a size gate —
      // identical rows (the decision is physical only; the oracle
      // proves it), AdaptiveJoinSpec proves a planted hot template
      // flips the strategy to Salted inside this exact path. The ref
      // side is the per-EPOCH parquet snapshot (VERDICT r12 #3): built
      // on the first run for a corpus dir, reused verbatim by every
      // later delta — which is the production cadence this query
      // models, and what a warm benchmark draw measures
      val epoch = d18EpochDirs.computeIfAbsent(dir,
        _ => SparkHygiene.scratchDir("d18_epoch"))
      graft.operators.JaccardJoin
        .crossPairsAdaptive(probe, ref, "doc_id", "text", t = 0.5,
          epochIndexDir = Some(epoch))._1
        .withColumn("jaccard",
          round(col("common") * lit(1.0) /
            (col("sza") + col("szb") - col("common")), 6))
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"), col("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    // Release COMPLEMENT — the set-operation form of incremental
    // releases: "which corpus documents are NOT in the prior release".
    // A genuine EXCEPT (not an anti-join improvisation): Spark plans
    // `except` as a distinct left-anti — aggregate on the 8-byte id,
    // both sides partial-aggregate map-side, one id-key exchange each.
    // At 100 TB the prior-release id list is itself huge, so the
    // set-op's shuffle-on-id plan (NOT a broadcast probe, which is
    // d7/decontamination's shape for SMALL exclusion lists) is the one
    // that scales: ids co-partition, nothing wider than 8 bytes moves.
    "d19_except_release" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prior = docs
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4") ||
          col("doc_id") % 7 === 0)
        .select(col("doc_id"))
      docs.select(col("doc_id")).except(prior).orderBy(col("doc_id"))
    }),

    // INTERSECT — d19's complement set-op: documents present in BOTH of
    // two candidate releases (disjoint selection criteria, overlapping
    // membership). Spark lowers intersect to distinct + left-semi: the
    // same aggregate-then-8-byte-key-shuffle plan as d19, so the pair
    // covers both set-op lowerings Catalyst has. At 100 TB both release
    // lists shuffle on the id — no broadcast assumption.
    "d20_intersect_releases" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val relA = docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"))
      val relB = docs.filter(col("source").isin("src2", "src5", "src8", "src11") ||
        col("n_chars") > 400).select(col("doc_id"))
      relA.intersect(relB).orderBy(col("doc_id"))
    }),

    // Edit-distance (Levenshtein ≤ 2) near-dup pairs — the TYPO
    // corruption model, via PassJoin segment filtering
    // (operators/EditDistanceJoin): keys are normalized 18-24-char text
    // prefixes (length varies by id so the length-band machinery is
    // exercised); every 10th doc is cloned with a 2-char substitution.
    // The ORACLE is the quadratic ground truth (length prefilter + full
    // levenshtein over all pairs) — the gate verifies the pigeonhole
    // lemma's losslessness, not a replay of the same plan.
    "d21_edit_distance" -> ((s, dir) => {
      val keys = Tables.documents(s, dir).select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ")
          .substr(lit(1), (lit(18) + pmod(col("doc_id"), lit(7))).cast("int"))
          .as("skey"))
      val clones = keys.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(substring(col("skey"), 1, 4), lit("qx"),
            expr("substring(skey, 7)")).as("skey"))
      graft.operators.EditDistanceJoin
        .selfPairs(keys.unionByName(clones), "doc_id", "skey", k = 2)
        .orderBy(col("a"), col("b"))
    }),

    // The USER-WRITTEN form of d21 — a naive crossJoin + levenshtein
    // filter — served by plans/EditDistanceJoinRewrite: the optimizer
    // rewrites the cartesian into the PassJoin segment equi-join with
    // exact multiplicity (j6/d5's story for the string predicate).
    // Identical result set to d21 (same corpus, same oracle shape);
    // PlanSpec pins that no cartesian operator survives.
    "d22_edit_rewrite" -> ((s, dir) => {
      val keys = Tables.documents(s, dir).select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ")
          .substr(lit(1), (lit(18) + pmod(col("doc_id"), lit(7))).cast("int"))
          .as("skey"))
      val clones = keys.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(substring(col("skey"), 1, 4), lit("qx"),
            expr("substring(skey, 7)")).as("skey"))
      val corpus = keys.unionByName(clones)
      val l = corpus.select(col("doc_id").as("a"), col("skey").as("sa"))
      val r = corpus.select(col("doc_id").as("b"), col("skey").as("sb"))
      l.crossJoin(r)
        .filter(levenshtein(col("sa"), col("sb")) <= 2 && col("a") < col("b"))
        .select(col("a"), col("b"),
          levenshtein(col("sa"), col("sb")).as("dist"))
        .orderBy(col("a"), col("b"))
    }),

    // SORTED-NEIGHBORHOOD dedup (Hernández & Stolfo 1995, the SNM
    // merge/purge classic) — the third near-dup DISCOVERY strategy next
    // to banding (d3/d4) and prefix filtering (d2): sort by a blocking
    // key and compare each record only with its next w−1 neighbors in
    // the sort order. Candidates are N·(w−1) by construction — no
    // quadratic risk at ANY skew — traded against recall that depends
    // on sort-key locality (a typo in the key's first chars separates a
    // true pair; that tradeoff is the method). Expressed as ONE window
    // pass: partition by a 2-char block (the scalable partitioning —
    // a global sort would serialize), order by (skey, doc_id), w−1
    // lead columns, exact levenshtein on the candidates only. Same
    // cloned corpus as d21, so the two strategies' outputs are
    // comparable in review.
    "d25_sorted_neighborhood" -> ((s, dir) => {
      val keys = Tables.documents(s, dir).select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ")
          .substr(lit(1), lit(24)).as("skey"))
      val clones = keys.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(substring(col("skey"), 1, 4), lit("qx"),
            expr("substring(skey, 7)")).as("skey"))
      val corpus = keys.unionByName(clones)
        .withColumn("block", substring(col("skey"), 1, 2))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("block")).orderBy(col("skey"), col("doc_id"))
      // all w−1 neighbors from ONE Window operator (a per-offset union
      // would re-plan the window pass per offset); the window columns
      // materialize in their own projection first — a generator can't
      // host window expressions — then explode + exact distance on
      // candidates only
      corpus
        .select(col("doc_id") +: col("skey") +:
          (1 to 3).flatMap(i => Seq(
            lead(col("doc_id"), i).over(w).as(s"id$i"),
            lead(col("skey"), i).over(w).as(s"k$i"))): _*)
        .withColumn("nbr", explode(array((1 to 3).map(i =>
          struct(col(s"id$i").as("id"), col(s"k$i").as("k"))): _*)))
        .filter(col("nbr.id").isNotNull &&
          levenshtein(col("skey"), col("nbr.k")) <= 4)
        .select(least(col("doc_id"), col("nbr.id")).as("a"),
          greatest(col("doc_id"), col("nbr.id")).as("b"),
          levenshtein(col("skey"), col("nbr.k")).as("dist"))
        .distinct()
        .orderBy(col("a"), col("b"))
    }),

    // FULL OUTER release diff — the symmetric snapshot comparison every
    // release pipeline runs ("what was added, what was removed, what
    // survived"): neither side is privileged, so both null-extend.
    // Plan shape: one doc_id shuffle per side into a sort-merge FULL
    // OUTER (full outer cannot broadcast either side — rows without a
    // match must still emit from BOTH inputs), then a null-classifying
    // projection. The one-key-exchange-per-side plan is exactly what
    // survives when both snapshots are 100 TB-scale.
    "j12_full_outer_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val a = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("a_id"), col("n_chars").as("a_chars"))
      val b = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("b_id"), col("n_chars").as("b_chars"))
      a.join(b, col("a_id") === col("b_id"), "full_outer")
        .select(
          coalesce(col("a_id"), col("b_id")).as("doc_id"),
          when(col("a_id").isNull, lit("added"))
            .when(col("b_id").isNull, lit("removed"))
            .otherwise(lit("kept")).as("status"),
          coalesce(col("b_chars"), col("a_chars")).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Cross-document SPAN detection (the Lee et al. exact-substring
    // dedup shape at 8-gram granularity): longest run of consecutive
    // shared grams per pair, measured on one diagonal via the islands
    // trick — positioned gram-digest equi-join + one window + two
    // aggregations, no suffix array, no per-pair alignment. Exchange
    // keys are md5 digests (d10's digest-key plan).
    "d11_span_pairs" -> ((s, dir) =>
      graft.operators.SpanDedup
        .selfPairs(corpusWithNearDups(s, dir), "doc_id", "text",
          gramLen = 8, minSpan = 20)
        .orderBy(col("a"), col("b"))),

    // The END-TO-END dedup DECISION — "give me the surviving corpus":
    // verified Jaccard near-dup pairs (the d2 PPJoin operator) →
    // transitive closure (the d6 CC operator) → keep-first per group.
    // One row per SURVIVING document with how many it absorbed
    // (n_absorbed = 1 ⇔ unique). This is the composition a training-data
    // pipeline actually ships: candidates, exact verify, grouping and
    // the keep rule in one query, every stage the scale-shaped plan the
    // component operators carry individually.
    "d12_dedup_corpus" -> ((s, dir) =>
      // components are labeled by their min member — the keeper
      dupComponents(s, dir)
        .groupBy(col("component")).agg(count(lit(1)).as("n_absorbed"))
        .select(col("component").as("doc_id"), col("n_absorbed"))
        .orderBy(col("doc_id"))),

    // Quality-aware survivor selection — the keep rule production
    // pipelines actually ship: within each transitive dup group (the
    // exact d12 machinery), keep the HIGHEST-QUALITY member (t2's
    // quality blend; id-asc tie-break after the 6-dp round), not the
    // lowest id. Plan = d12's plans + one quality projection + one
    // window over components — the survivor rule changes, the scale
    // shape doesn't.
    "d14_dedup_best" -> ((s, dir) => {
      val comp = dupComponents(s, dir)
      val qual = corpusWithNearDups(s, dir).select(col("doc_id").as("node"),
        TextFns.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("quality").desc, col("node").asc)
      val sized = comp.groupBy(col("component")).agg(count(lit(1)).as("n_absorbed"))
      comp.join(qual, "node")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .join(sized, "component")
        .select(col("node").as("doc_id"), col("quality"), col("n_absorbed"))
        .orderBy(col("doc_id"))
    }),

    // Containment pairs via winnowing fingerprints (Schleimer et al.):
    // documents sharing selected k-gram hashes, scored by
    // shared/min(|fp_a|,|fp_b|) — catches a short doc EMBEDDED in a
    // long one, which symmetric Jaccard dilutes. k = 24 (not t16's 8):
    // winnowing SELECTS minimum hashes, so short grams bias selections
    // toward corpus-common text and the fp join's keys go hot — probed
    // at sf0.1, k=8 gives sum(df²) = 232M candidate rows (max df 3716)
    // vs 454k at k=24 (max df 16), a 500× join-work cut that loses
    // none of the planted clone pairs; detection floor is shared runs
    // ≥ k+w−1 = 31 chars. maxDf stays as the boilerplate safety valve
    // (the d11 hazard); see operators/Winnowing.
    "d15_containment" -> ((s, dir) =>
      graft.operators.Winnowing.containmentPairs(
        corpusWithNearDups(s, dir), "doc_id", "text",
        k = 24, w = 8, tau = 0.5, maxDf = 1000L)
        .orderBy(col("a"), col("b"))),

    // Dup GROUPS: connected components over the ε-near-dup graph — the
    // transitive-closure dedup decision (a≈b, b≈c ⇒ {a,b,c} one group
    // even when a–c alone misses the cut). Pairs from the lossless
    // pivot-band join; components from the engine's iterative min-label
    // CC operator (the DBSCAN(min_samples=2) core, here exercised as a
    // first-class training-data dedup operator). keep = min-id member.
    "d6_dup_groups" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val pairs = graft.operators.SimilarityJoin
        .bandExactSelf(emb, "vec_id", "embedding", eps = 0.5501)
        .withColumn("dist", round(col("dist"), 4))
        .filter(col("dist") <= 0.55)
        .select(col("a"), col("b"))
      val comp = graft.operators.ConnectedComponents.run(
        emb.select(col("vec_id").cast("long").as("node")),
        pairs.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst")))
      val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("group_size"))
      comp.join(sizes.filter(col("group_size") > 1), "component")
        .select(col("node").as("vec_id"), col("component"), col("group_size"),
          (col("node") === col("component")).as("keep"))
        .orderBy(col("vec_id"))
    }),

    // Schema-evolution union — the corpus-merge every long-lived
    // pipeline hits: two releases whose schemas DRIFTED (an early drop
    // without `source`, a later one without `lang`/`n_chars`) merged
    // with unionByName(allowMissingColumns) — absent columns
    // null-fill, names align by NAME not position (positional UNION
    // silently transposes columns when schemas drift — the classic
    // silent-corruption bug this operator exists to prevent). The
    // report pins the null-fill pattern per release. Pure map-side:
    // a union is a zero-exchange plan node.
    "d24_schema_union" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val early = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val late = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("source"))
      early.unionByName(late, allowMissingColumns = true)
        .select(col("doc_id"),
          coalesce(col("lang"), lit("<absent>")).as("lang"),
          coalesce(col("source"), lit("<absent>")).as("source"),
          coalesce(col("n_chars"), lit(-1L)).as("n_chars"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy(col("doc_id"))
    }),

    // d6 THROUGH THE DISTRIBUTED PATH: localGate = 0 forces the
    // iterative min-label propagation (one node-keyed shuffle per
    // round, localCheckpoint lineage truncation) instead of the
    // bounded-collect union-find — the path a graph too large for the
    // driver takes at 100 TB. Same oracle as d6: the true transitive
    // closure is path-independent, so this row proves the distributed
    // propagation CONVERGES TO the exact components, not just that it
    // runs (it was spec-only until here).
    "d23_cc_distributed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val pairs = graft.operators.SimilarityJoin
        .bandExactSelf(emb, "vec_id", "embedding", eps = 0.5501)
        .withColumn("dist", round(col("dist"), 4))
        .filter(col("dist") <= 0.55)
        .select(col("a"), col("b"))
      val comp = graft.operators.ConnectedComponents.run(
        emb.select(col("vec_id").cast("long").as("node")),
        pairs.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst")),
        localGate = 0)
      val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("group_size"))
      comp.join(sizes.filter(col("group_size") > 1), "component")
        .select(col("node").as("vec_id"), col("component"), col("group_size"),
          (col("node") === col("component")).as("keep"))
        .orderBy(col("vec_id"))
    }),

    // A12 ε-sensitivity sweep — the reference notebook's clustering
    // evaluation (news summarization streaming.ipynb cells 3-8: cluster
    // dumps at eps ∈ {0.05, 0.15}) as a first-class query: how does the
    // cluster structure respond to the ε knob? The notebook's values
    // target real MiniLM news embeddings; this synthetic corpus's
    // sensitivity transition sits at 0.50–0.65 (1 → 271 edges), so the
    // sweep uses those four values — the METHOD (shared distance pass,
    // per-eps partition stats) is what's replicated. Plan: ONE pivot-
    // band candidate pass at the loosest eps; each tighter eps is a
    // FILTER over those pairs (never a re-scan of the embeddings), then
    // min-label CC per eps and a one-row stats roll-up — so the sweep
    // costs one similarity join plus k tiny graph passes, the shape
    // that survives a 100 TB corpus.
    "a12_eps_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // persisted, not exchange-reuse: each eps's CC pass is its own
      // ACTION (the union-find gate collects), and exchange reuse only
      // spans branches of a single execution — without the persist the
      // similarity join would re-run once per eps. The pair set is the
      // ε-graph edge list (tiny: bounded by near-dup density), and the
      // harness's dropAllPersisted reclaims it after the query.
      val pairs = graft.operators.SimilarityJoin
        .bandExactSelf(emb, "vec_id", "embedding", eps = 0.6501)
        .withColumn("dist", round(col("dist"), 4))
        .select(col("a").cast("long").as("src"),
          col("b").cast("long").as("dst"), col("dist"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = emb.select(col("vec_id").cast("long").as("node"))
      val sweeps = Seq(0.50, 0.55, 0.60, 0.65).map { e =>
        val comp = graft.operators.ConnectedComponents.run(
          nodes, pairs.filter(col("dist") <= e).select(col("src"), col("dst")))
        comp.groupBy(col("component")).agg(count(lit(1)).as("sz"))
          .agg(
            coalesce(sum(when(col("sz") > 1, lit(1L))), lit(0L)).as("n_clusters"),
            coalesce(sum(when(col("sz") === 1, lit(1L))), lit(0L)).as("n_singletons"),
            coalesce(sum(when(col("sz") > 1, col("sz"))), lit(0L)).as("n_clustered"),
            max(col("sz")).as("max_size"))
          .select(lit(e).as("eps"), col("n_clusters"), col("n_singletons"),
            col("n_clustered"), col("max_size"))
      }
      sweeps.reduce(_.unionByName(_)).orderBy(col("eps"))
    }),

    // Embedding-cosine near-dup with the dedup DECISION: every vector
    // within eps of a lower-id vector is dropped, keeping its nearest
    // lowest-id representative (keep-first semantics on vec_id order)
    "d5_embed_neardup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val a = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("b"), col("embedding").as("vb"))
      a.crossJoin(b).filter(col("a") < col("b"))
        .withColumn("dist",
          round(VectorFns.unitCosineDistance(col("va"), col("vb")), 4))
        .filter(col("dist") <= 0.55)
        .groupBy(col("b").as("drop_id"))
        .agg(min(col("a")).as("kept_id"), min_by(col("dist"), col("a")).as("dist"))
        .orderBy(col("drop_id"))
    }),

    // J5 TF-IDF near-dup within clusters (reference notebook
    // remove_dup_article: cosine > 0.9 ⇒ drop the later member).
    // Each document collapses to ONE sorted term-vector row; pairs come
    // from an equi-join on the cluster key and the dot is a codegen'd
    // O(n+m) merge scan (SortedTermDot). The naive inverted-index
    // self-join on (cluster, term) explodes on hot terms — a stopword
    // shared by k cluster members contributes k² join rows — and was
    // measured 7× slower on this corpus (38 s vs 5 s at sf0.1).
    "j5_tfidf_dedup" -> ((s, dir) => {
      // exact-dup corpus: planted copies normalize to identical token
      // streams (cosine 1.0), so the >0.9 cut always has matches —
      // non-vacuous at every sf (the near-dup pad's rare tokens carry
      // high IDF and push cosine below 0.9 on this synthetic corpus)
      val corpus = corpusWithExactDups(s, dir)
        .withColumn("cluster",
          (when(col("doc_id") >= 1000000, col("doc_id") - 1000000)
            .otherwise(col("doc_id")) % 101))
      val toks = corpus.select(col("cluster"), col("doc_id"),
        explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")).as("t"))
      val tf = toks.groupBy(col("cluster"), col("doc_id"), col("t"))
        .agg(count(lit(1)).as("tf"))
      val n = corpus.agg(countDistinct(col("doc_id")).as("nd"))
      val dfreq = tf.groupBy(col("t")).agg(countDistinct(col("doc_id")).as("df"))
      val vecs = tf.join(broadcast(dfreq), "t").crossJoin(broadcast(n))
        .withColumn("w", col("tf") * log(col("nd") / col("df")))
        .groupBy(col("cluster"), col("doc_id"))
        .agg(array_sort(collect_list(struct(col("t"), col("w")))).as("tw"))
        .select(col("cluster"), col("doc_id"),
          transform(col("tw"), x => x.getField("t")).as("ks"),
          transform(col("tw"), x => x.getField("w")).as("vs"))
        .withColumn("nrm",
          aggregate(col("vs"), lit(0.0), (acc, v) => acc + v * v))
        // optimization r14: the whole TF-IDF vector pipeline (token
        // explode, tf/df aggregations, the collect_list regroup) fed
        // BOTH self-join sides and was recomputed per side (executed
        // plan: 23 exchanges, 1 reused — AQE reuse dedupes only
        // identical canonical subtrees, and the x/y sides diverge under
        // pushdown). Materialize once; the harness sweeps the cache
        // (dropAllPersisted) after the query
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      vecs.count() // eager: concurrent broadcast futures race a lazy cache
      vecs.as("x").join(vecs.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.doc_id") < col("y.doc_id"))
        .withColumn("dot", VectorFns.sortedTermDot(
          col("x.ks"), col("x.vs"), col("y.ks"), col("y.vs")))
        .withColumn("cos",
          round(col("dot") / (sqrt(col("x.nrm")) * sqrt(col("y.nrm"))), 4))
        .filter(col("cos") > 0.9)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("cos"), col("y.doc_id").as("drop_id"))
        .orderBy(col("a"), col("b"))
    }),

    // benchmark decontamination: flag training docs sharing any word
    // 3-gram with a held-out eval set (doc_id % 50 — 2% of the corpus,
    // the realistic shape: eval benchmarks are tiny next to the corpus).
    // The eval shingle set is broadcast, so the corpus side never
    // shuffles for the probe — contamination hits aggregate per doc on
    // one shuffle. 257 contaminated docs at sf0.01.
    "d7_decontaminate" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .withColumn("__toks", TextFns.repetitionTokens(col("text")))
        .select(col("doc_id"),
          explode(TextFns.wordShinglesTokens(col("__toks"), 3)).as("sh"))
      val evalSh = sh.filter(col("doc_id") % 50 === 0)
        .select(col("sh")).distinct()
      // per-doc shingles are already distinct (wordShinglesTokens
      // array_distincts), so count(*) == distinct contaminated shingles
      sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(evalSh), "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-filter membership probe for cross-batch dedup: the history
    // partition's fingerprints set k=4 seeded md5 positions in an
    // M=256-bit filter; a probe doc is flagged iff ALL its positions are
    // set. Deliberately small M so false positives are exercised and
    // checked (~40 at sf0.01 alongside the 50 true dup hits — the
    // `true_dup` column separates them). The bit set IS the distinct
    // position set: built distributed (groupBy position), broadcast to
    // the probe side, probe map-side — the same dataflow a compact
    // bitmap broadcast (`DataFrameStatFunctions.bloomFilter`) executes,
    // but with engine-portable hashes the oracle replays bit-for-bit.
    "d8_bloom_dedup" -> ((s, dir) => {
      val M = 256
      val corpus = corpusWithExactDups(s, dir)
        .select(col("doc_id"), TextFns.fingerprint(col("text")).as("f"))
      val pos = corpus
        .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("seed"), col("f"))
        .withColumn("h", md5(concat(col("seed").cast("string"), lit(":"), col("f"))))
        .withColumn("pos",
          (expr("instr('0123456789abcdef', substring(h, 1, 1)) - 1") * 16 +
            expr("instr('0123456789abcdef', substring(h, 2, 1)) - 1")) % M)
      val hist = pos.filter(col("doc_id") % 10 === 0 && col("doc_id") < 1000000)
        .select(col("pos")).distinct()
      pos.filter(col("doc_id") % 10 =!= 0 || col("doc_id") >= 1000000)
        .join(broadcast(hist), "pos")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("k_hits"))
        .filter(col("k_hits") === 4)
        .select(col("doc_id"), (col("doc_id") >= 1000000).as("true_dup"))
        .orderBy(col("doc_id"))
    }))

  private val exactCorpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, '  ' || upper(text) || '  ' FROM documents
      |  WHERE doc_id % 10 = 0)""".stripMargin

  private val nearCorpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' qq zz near dup pad' FROM documents
      |  WHERE doc_id % 10 = 0)""".stripMargin

  private def stopList: String = OracleSqlParts.stopList

  /** SQL replay of [[dupComponents]] — CTEs norm…comp over `corpus`;
    * consumers read comp(n, component). Shared by the d12/d14 oracles
    * (they must agree on what a dup group is, so the chain exists once;
    * requires WITH RECURSIVE for `reach`). */
  private val dupComponentsSql =
    """norm AS (SELECT doc_id,
      |  regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM corpus),
      |idx AS (SELECT doc_id, toks,
      |  unnest(generate_series(1, greatest(len(toks)-3, 0)+1)) AS i FROM norm),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM idx),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
      |       FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
      |e AS (SELECT a, b FROM pr
      |      JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |      WHERE round(common*1.0/(sa.sz + sb.sz - common), 6) >= 0.5),
      |edges AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      |reach(n, m) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.n, e2.dst FROM reach r JOIN edges e2 ON r.m = e2.src),
      |comp0 AS (SELECT n, least(n, min(m)) AS component FROM reach GROUP BY n),
      |comp AS (SELECT c.doc_id AS n, coalesce(c0.component, c.doc_id) AS component
      |         FROM corpus c LEFT JOIN comp0 c0 ON c0.n = c.doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "d1_exact_dedup" ->
      s"""WITH $exactCorpusSql
         |SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         |       min(doc_id) AS keep_id, count(*) AS dup_count
         |FROM corpus GROUP BY fp ORDER BY keep_id""".stripMargin,
    "d2_jaccard_pairs" ->
      s"""WITH $nearCorpusSql,
         |norm AS (SELECT doc_id,
         |  regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM corpus),
         |idx AS (SELECT doc_id, toks,
         |  unnest(generate_series(1, greatest(len(toks)-3, 0)+1)) AS i FROM norm),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM idx),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
         |       FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
         |SELECT a, b, round(common*1.0/(sa.sz + sb.sz - common), 6) AS jaccard
         |FROM pr JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
         |WHERE round(common*1.0/(sa.sz + sb.sz - common), 6) >= 0.5
         |ORDER BY a, b""".stripMargin,
    "d18_incremental_dedup" ->
      """WITH ref AS (SELECT doc_id, text FROM documents),
        |prb AS (SELECT doc_id + 2000000 AS doc_id,
        |          text || ' qq zz near dup pad' AS text
        |        FROM documents WHERE doc_id % 10 = 0),
        |nr AS (SELECT doc_id,
        |  regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM ref),
        |ir AS (SELECT doc_id, toks,
        |  unnest(generate_series(1, greatest(len(toks)-3, 0)+1)) AS i FROM nr),
        |shr AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM ir),
        |szr AS (SELECT doc_id, count(*) AS sz FROM shr GROUP BY doc_id),
        |np AS (SELECT doc_id,
        |  regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM prb),
        |ip AS (SELECT doc_id, toks,
        |  unnest(generate_series(1, greatest(len(toks)-3, 0)+1)) AS i FROM np),
        |shp AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM ip),
        |szp AS (SELECT doc_id, count(*) AS sz FROM shp GROUP BY doc_id),
        |pr AS (SELECT p.doc_id AS a, r.doc_id AS b, count(*) AS common
        |       FROM shp p JOIN shr r USING (sh) GROUP BY 1, 2)
        |SELECT a, b, round(common*1.0/(sp.sz + sr.sz - common), 6) AS jaccard
        |FROM pr JOIN szp sp ON sp.doc_id = a JOIN szr sr ON sr.doc_id = b
        |WHERE round(common*1.0/(sp.sz + sr.sz - common), 6) >= 0.5
        |ORDER BY a, b""".stripMargin,
    "d19_except_release" ->
      """SELECT doc_id FROM documents
        |EXCEPT
        |SELECT doc_id FROM documents
        |WHERE source IN ('src0','src1','src2','src3','src4') OR doc_id % 7 = 0
        |ORDER BY doc_id""".stripMargin,
    "d20_intersect_releases" ->
      """SELECT doc_id FROM documents WHERE doc_id % 3 <> 0
        |INTERSECT
        |SELECT doc_id FROM documents
        |WHERE source IN ('src2','src5','src8','src11') OR n_chars > 400
        |ORDER BY doc_id""".stripMargin,
    "d21_edit_distance" ->
      """WITH k0 AS (SELECT doc_id,
        |  substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |            1, CAST(18 + doc_id % 7 AS INT)) AS skey
        |  FROM documents),
        |c AS (SELECT doc_id, skey FROM k0
        |      UNION ALL
        |      SELECT doc_id + 3000000,
        |             substring(skey, 1, 4) || 'qx' || substring(skey, 7)
        |      FROM k0 WHERE doc_id % 10 = 0)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       levenshtein(x.skey, y.skey) AS dist
        |FROM c x JOIN c y ON x.doc_id < y.doc_id
        |WHERE abs(length(x.skey) - length(y.skey)) <= 2
        |  AND levenshtein(x.skey, y.skey) <= 2
        |ORDER BY a, b""".stripMargin,
    "d22_edit_rewrite" ->
      """WITH k0 AS (SELECT doc_id,
        |  substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |            1, CAST(18 + doc_id % 7 AS INT)) AS skey
        |  FROM documents),
        |c AS (SELECT doc_id, skey FROM k0
        |      UNION ALL
        |      SELECT doc_id + 3000000,
        |             substring(skey, 1, 4) || 'qx' || substring(skey, 7)
        |      FROM k0 WHERE doc_id % 10 = 0)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       levenshtein(x.skey, y.skey) AS dist
        |FROM c x JOIN c y ON x.doc_id < y.doc_id
        |WHERE levenshtein(x.skey, y.skey) <= 2
        |ORDER BY a, b""".stripMargin,
    "d25_sorted_neighborhood" ->
      // the same windowed-neighbor definition: lead 1..3 within the
      // 2-char block's (skey, doc_id) order, exact distance on
      // candidates, canonical (least, greatest) pair emission
      """WITH k0 AS (SELECT doc_id,
        |  substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |            1, 24) AS skey
        |  FROM documents),
        |c AS (SELECT doc_id, skey FROM k0
        |      UNION ALL
        |      SELECT doc_id + 3000000,
        |             substring(skey, 1, 4) || 'qx' || substring(skey, 7)
        |      FROM k0 WHERE doc_id % 10 = 0),
        |l AS (SELECT doc_id, skey,
        |        lead(doc_id, 1) OVER w AS id1, lead(skey, 1) OVER w AS k1,
        |        lead(doc_id, 2) OVER w AS id2, lead(skey, 2) OVER w AS k2,
        |        lead(doc_id, 3) OVER w AS id3, lead(skey, 3) OVER w AS k3
        |      FROM c
        |      WINDOW w AS (PARTITION BY substring(skey, 1, 2)
        |                   ORDER BY skey, doc_id)),
        |p AS (
        |  SELECT least(doc_id, id1) AS a, greatest(doc_id, id1) AS b,
        |         levenshtein(skey, k1) AS dist
        |  FROM l WHERE id1 IS NOT NULL AND levenshtein(skey, k1) <= 4
        |  UNION
        |  SELECT least(doc_id, id2), greatest(doc_id, id2),
        |         levenshtein(skey, k2)
        |  FROM l WHERE id2 IS NOT NULL AND levenshtein(skey, k2) <= 4
        |  UNION
        |  SELECT least(doc_id, id3), greatest(doc_id, id3),
        |         levenshtein(skey, k3)
        |  FROM l WHERE id3 IS NOT NULL AND levenshtein(skey, k3) <= 4)
        |SELECT DISTINCT a, b, dist FROM p ORDER BY a, b""".stripMargin,
    "j12_full_outer_diff" ->
      """SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       ELSE 'kept' END AS status,
        |  coalesce(b.n_chars, a.n_chars) AS n_chars
        |FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 <> 0) a
        |FULL OUTER JOIN
        |     (SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0) b
        |  ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin,
    "d3_minhash_pairs" ->
      s"""WITH $nearCorpusSql,
         |norm AS (SELECT doc_id,
         |  regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM corpus),
         |idx AS (SELECT doc_id, toks,
         |  unnest(generate_series(1, greatest(len(toks)-3, 0)+1)) AS i FROM norm),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM idx),
         |seeds AS (SELECT unnest(generate_series(0, 11)) AS seed),
         |sigs AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || sh)) AS mh
         |         FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
         |bands AS (SELECT doc_id, seed // 3 AS bidx,
         |          md5(string_agg(mh, ',' ORDER BY seed)) AS bh
         |          FROM sigs GROUP BY doc_id, seed // 3)
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM bands x JOIN bands y ON x.bidx = y.bidx AND x.bh = y.bh
         |  AND x.doc_id < y.doc_id
         |ORDER BY a, b""".stripMargin,
    "d16_jaccard_estimate" ->
      s"""WITH $nearCorpusSql,
         |norm AS (SELECT doc_id,
         |  regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM corpus),
         |idx AS (SELECT doc_id, toks,
         |  unnest(generate_series(1, greatest(len(toks)-3, 0)+1)) AS i FROM norm),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM idx),
         |seeds AS (SELECT unnest(generate_series(0, 11)) AS seed),
         |sigs AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || sh)) AS mh
         |         FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
         |bands AS (SELECT doc_id, seed // 3 AS bidx,
         |          md5(string_agg(mh, ',' ORDER BY seed)) AS bh
         |          FROM sigs GROUP BY doc_id, seed // 3),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y ON x.bidx = y.bidx AND x.bh = y.bh
         |           AND x.doc_id < y.doc_id),
         |agr AS (SELECT c.a, c.b,
         |          sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS n_agree
         |        FROM cand c
         |          JOIN sigs sa ON sa.doc_id = c.a
         |          JOIN sigs sb ON sb.doc_id = c.b AND sb.seed = sa.seed
         |        GROUP BY c.a, c.b)
         |SELECT a, b, round(n_agree / 12.0, 4) AS est_jaccard
         |FROM agr ORDER BY a, b""".stripMargin,
    "d4_simhash_pairs" -> {
      val bitSums = (0 until 32).map(j =>
        s"  sum(((strpos('0123456789abcdef', substring(h, ${j / 4 + 1}, 1)) - 1) " +
          s"// ${1 << (j % 4)}) % 2 * 2 - 1) AS s$j").mkString(",\n")
      val simExpr = (0 until 32)
        .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")
      s"""WITH $nearCorpusSql,
         |toks AS (SELECT doc_id,
         |  unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t FROM corpus),
         |sums AS (SELECT doc_id,
         |$bitSums
         |FROM (SELECT doc_id, md5(t) AS h FROM toks) GROUP BY doc_id),
         |sigs AS (SELECT doc_id, $simExpr AS sim FROM sums)
         |SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.sim, y.sim)) AS hamming
         |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sim, y.sim)) <= 6
         |ORDER BY a, b""".stripMargin
    },
    "d9_simhash64_band" -> {
      val bitSums = (0 until 64).map(j =>
        s"  sum(((strpos('0123456789abcdef', substring(h, ${j / 4 + 1}, 1)) - 1) " +
          s"// ${1 << (j % 4)}) % 2 * 2 - 1) AS s$j").mkString(",\n")
      // bit 63 is the sign bit: -(2^63) has no positive BIGINT literal,
      // so it is spelled -9223372036854775807 - 1; the HUGEINT sum of the
      // CASE terms is exactly the signed 64-bit pattern, cast back down
      val simExpr = (0 until 64).map { j =>
        val w = if (j == 63) "-9223372036854775807 - 1" else s"${1L << j}"
        s"CASE WHEN s$j > 0 THEN $w ELSE 0 END"
      }.mkString(" + ")
      s"""WITH $nearCorpusSql,
         |toks AS (SELECT doc_id,
         |  unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t FROM corpus),
         |sums AS (SELECT doc_id,
         |$bitSums
         |FROM (SELECT doc_id, md5(t) AS h FROM toks) GROUP BY doc_id),
         |sigs AS (SELECT doc_id, ($simExpr)::BIGINT AS sim FROM sums)
         |SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.sim, y.sim)) AS hamming
         |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sim, y.sim)) <= 3
         |ORDER BY a, b""".stripMargin
    },
    "d10_segment_dedup" ->
      s"""WITH $nearCorpusSql,
         |toks AS (SELECT doc_id,
         |  regexp_split_to_array(trim(text), '\\s+') AS tk FROM corpus),
         |idx AS (SELECT doc_id, tk,
         |  unnest(generate_series(0,
         |    greatest(ceil(len(tk) / 10.0)::INT - 1, 0))) AS i FROM toks),
         |raw AS (SELECT DISTINCT doc_id,
         |  array_to_string(tk[i*10+1 : i*10+10], ' ') AS seg FROM idx),
         |seg AS (SELECT doc_id, md5(seg) AS seg FROM raw),
         |dfx AS (SELECT seg, count(*) AS df FROM seg GROUP BY seg)
         |SELECT s.doc_id,
         |  count(*) AS n_segments,
         |  CAST(sum(CASE WHEN dfx.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
         |  round(sum(CASE WHEN dfx.df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         |    AS boilerplate_ratio
         |FROM seg s JOIN dfx USING (seg) GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "d17_boilerplate_strip" ->
      s"""WITH $nearCorpusSql,
         |toks AS (SELECT doc_id,
         |  regexp_split_to_array(trim(text), '\\s+') AS tk FROM corpus),
         |idx AS (SELECT doc_id, tk,
         |  unnest(generate_series(0,
         |    greatest(ceil(len(tk) / 10.0)::INT - 1, 0))) AS i FROM toks),
         |pseg AS (SELECT doc_id, i,
         |  array_to_string(tk[i*10+1 : i*10+10], ' ') AS seg FROM idx),
         |dfx AS (SELECT h, count(*) AS df FROM
         |  (SELECT DISTINCT doc_id, md5(seg) AS h FROM pseg) GROUP BY h)
         |SELECT doc_id,
         |  coalesce(string_agg(seg, ' ' ORDER BY i) FILTER (WHERE df <= 1), '')
         |    AS cleaned,
         |  count(*) FILTER (WHERE df <= 1) AS n_kept,
         |  count(*) AS n_segments
         |FROM pseg JOIN dfx ON md5(seg) = h
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d12_dedup_corpus" ->
      s"""WITH RECURSIVE $nearCorpusSql,
         |$dupComponentsSql
         |SELECT component AS doc_id, count(*) AS n_absorbed
         |FROM comp GROUP BY component ORDER BY doc_id""".stripMargin,
    "d15_containment" ->
      s"""WITH $nearCorpusSql,
         |${OracleSqlParts.winnowingCtes("corpus", k = 24, w = 8)},
         |sel AS (SELECT DISTINCT doc_id, vmin // 4294967296 AS fp
         |        FROM m WHERE pos >= 8),
         |kept AS (SELECT doc_id, fp FROM (
         |        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM sel)
         |        WHERE df <= 1000),
         |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
         |       FROM kept x JOIN kept y USING (fp) WHERE x.doc_id < y.doc_id
         |       GROUP BY 1, 2)
         |SELECT a, b, shared, sa.n AS fpa, sb.n AS fpb,
         |       round(shared*1.0/least(sa.n, sb.n), 6) AS containment
         |FROM pr JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
         |WHERE round(shared*1.0/least(sa.n, sb.n), 6) >= 0.5
         |ORDER BY a, b""".stripMargin,
    "d14_dedup_best" ->
      s"""WITH RECURSIVE $nearCorpusSql,
         |$dupComponentsSql,
         |qt AS (SELECT doc_id, text,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') AS qtoks FROM corpus),
         |q AS (SELECT doc_id, round(
         |  least(length(text)/500.0, 1.0)*0.4 +
         |  (CASE WHEN length(text) > 0
         |        THEN length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))*1.0/length(text)
         |        ELSE 0.0 END)*0.4 +
         |  least((CASE WHEN len(qtoks) > 0
         |              THEN len(list_filter(qtoks, x -> x IN ($stopList)))*1.0/len(qtoks)
         |              ELSE 0.0 END)*4.0, 1.0)*0.2, 6) AS quality
         |FROM qt),
         |rk AS (SELECT c.component, c.n, q.quality,
         |         row_number() OVER (PARTITION BY c.component
         |           ORDER BY q.quality DESC, c.n) AS rk
         |       FROM comp c JOIN q ON q.doc_id = c.n),
         |szc AS (SELECT component, count(*) AS n_absorbed FROM comp GROUP BY component)
         |SELECT rk.n AS doc_id, rk.quality, szc.n_absorbed
         |FROM rk JOIN szc USING (component) WHERE rk.rk = 1 ORDER BY doc_id""".stripMargin,
    "d11_span_pairs" ->
      s"""WITH $nearCorpusSql,
         |norm AS (SELECT doc_id,
         |  regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM corpus),
         |g AS (SELECT doc_id, i, md5(array_to_string(toks[i:i+7], ' ')) AS gh
         |      FROM (SELECT doc_id, toks,
         |              unnest(generate_series(1, greatest(len(toks)-7, 1))) AS i
         |            FROM norm)),
         |m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.i AS i, x.i - y.i AS diag
         |      FROM g x JOIN g y ON x.gh = y.gh AND x.doc_id < y.doc_id),
         |r AS (SELECT a, b, diag,
         |        i - row_number() OVER (PARTITION BY a, b, diag ORDER BY i) AS grp
         |      FROM m),
         |runs AS (SELECT a, b, count(*) AS run FROM r GROUP BY a, b, diag, grp)
         |SELECT a, b, CAST(max(run) + 7 AS BIGINT) AS span
         |FROM runs GROUP BY a, b HAVING max(run) + 7 >= 20 ORDER BY a, b""".stripMargin,
    "d24_schema_union" ->
      """WITH u AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT doc_id, text, source FROM documents WHERE doc_id % 2 = 1)
        |SELECT doc_id,
        |  coalesce(lang, '<absent>') AS lang,
        |  coalesce(source, '<absent>') AS source,
        |  coalesce(n_chars, -1) AS n_chars,
        |  length(text) AS text_len
        |FROM u ORDER BY doc_id""".stripMargin,
    "d6_dup_groups" -> DedupQueries.d6OracleSql,
    // identical semantics through the DISTRIBUTED propagation path —
    // the true transitive closure is path-independent
    "d23_cc_distributed" -> DedupQueries.d6OracleSql,
    "a12_eps_sweep" -> {
      // one recursive-closure block per eps, replaying the Spark side's
      // shared-pair-pass + per-eps CC sweep; isolated nodes come back
      // via the LEFT JOIN (they are their own singleton components)
      def sweep(tag: String, e: String): String =
        s"""e$tag AS (SELECT a, b FROM p WHERE dist <= $e),
           |edges$tag AS (SELECT a AS src, b AS dst FROM e$tag UNION ALL SELECT b, a FROM e$tag),
           |reach$tag(n, m) AS (
           |  SELECT src, dst FROM edges$tag
           |  UNION
           |  SELECT r.n, e2.dst FROM reach$tag r JOIN edges$tag e2 ON r.m = e2.src),
           |comp$tag AS (
           |  SELECT v.vec_id, coalesce(least(v.vec_id, r.mm), v.vec_id) AS component
           |  FROM embeddings v LEFT JOIN
           |    (SELECT n, min(m) AS mm FROM reach$tag GROUP BY n) r ON v.vec_id = r.n),
           |sz$tag AS (SELECT component, count(*) AS sz FROM comp$tag GROUP BY component),
           |st$tag AS (SELECT CAST($e AS DOUBLE) AS eps,
           |  CAST(coalesce(sum(CASE WHEN sz > 1 THEN 1 END), 0) AS BIGINT) AS n_clusters,
           |  CAST(coalesce(sum(CASE WHEN sz = 1 THEN 1 END), 0) AS BIGINT) AS n_singletons,
           |  CAST(coalesce(sum(CASE WHEN sz > 1 THEN sz END), 0) AS BIGINT) AS n_clustered,
           |  CAST(max(sz) AS BIGINT) AS max_size FROM sz$tag)""".stripMargin
      val sweeps = Seq("50" -> "0.50", "55" -> "0.55", "60" -> "0.60", "65" -> "0.65")
      s"""WITH RECURSIVE
         |p AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |    round(least(greatest(1 - list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 0), 1), 4) AS dist
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
         |${sweeps.map { case (t, e) => sweep(t, e) }.mkString(",\n")}
         |${sweeps.map { case (t, _) => s"SELECT * FROM st$t" }.mkString(" UNION ALL ")}
         |ORDER BY eps""".stripMargin
    },
    "d5_embed_neardup" ->
      """WITH p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    round(least(greatest(1 - list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 0), 1), 4) AS dist
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT b AS drop_id, min(a) AS kept_id, arg_min(dist, a) AS dist
        |FROM p WHERE dist <= 0.55 GROUP BY b ORDER BY drop_id""".stripMargin,
    "j5_tfidf_dedup" ->
      s"""WITH $exactCorpusSql,
         |cl AS (SELECT doc_id,
         |  (CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000 ELSE doc_id END) % 101 AS cluster,
         |  text FROM corpus),
         |toks AS (SELECT cluster, doc_id,
         |  unnest(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
         |  FROM cl),
         |tf AS (SELECT cluster, doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
         |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM corpus),
         |dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t),
         |w AS (SELECT tf.cluster, tf.doc_id, tf.t, tf.tf * ln(nd.nd / dfreq.df) AS w
         |      FROM tf JOIN dfreq USING (t) CROSS JOIN nd),
         |norms AS (SELECT doc_id, sum(w*w) AS nrm FROM w GROUP BY doc_id),
         |dots AS (SELECT x.doc_id AS a, y.doc_id AS b, sum(x.w * y.w) AS dot
         |         FROM w x JOIN w y ON x.t = y.t AND x.cluster = y.cluster
         |           AND x.doc_id < y.doc_id
         |         GROUP BY 1, 2)
         |SELECT a, b, round(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) AS cos, b AS drop_id
         |FROM dots JOIN norms na ON na.doc_id = a JOIN norms nb ON nb.doc_id = b
         |WHERE round(dot / (sqrt(na.nrm) * sqrt(nb.nrm)), 4) > 0.9
         |ORDER BY a, b""".stripMargin,
    "d8_bloom_dedup" ->
      s"""WITH $exactCorpusSql,
         |fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
         |       FROM corpus),
         |pos AS (SELECT fp.doc_id, fp.f, s.seed
         |        FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS seed) s),
         |p2 AS (SELECT doc_id, seed,
         |  ((strpos('0123456789abcdef', substring(md5(seed::VARCHAR || ':' || f), 1, 1)) - 1) * 16 +
         |   (strpos('0123456789abcdef', substring(md5(seed::VARCHAR || ':' || f), 2, 1)) - 1)) % 256 AS pos
         |  FROM pos),
         |hist AS (SELECT DISTINCT pos FROM p2 WHERE doc_id % 10 = 0 AND doc_id < 1000000)
         |SELECT doc_id, doc_id >= 1000000 AS true_dup
         |FROM p2 WHERE (doc_id % 10 <> 0 OR doc_id >= 1000000)
         |  AND pos IN (SELECT pos FROM hist)
         |GROUP BY doc_id HAVING count(*) = 4 ORDER BY doc_id""".stripMargin,
    "d7_decontaminate" ->
      """WITH norm AS (SELECT doc_id,
        |  regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |  unnest(generate_series(1, greatest(len(toks)-3, 0)+1)) AS i FROM norm),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM idx),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0)
        |SELECT s.doc_id, count(*) AS n_hits
        |FROM sh s JOIN ev USING (sh) WHERE s.doc_id % 50 <> 0
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)
}
