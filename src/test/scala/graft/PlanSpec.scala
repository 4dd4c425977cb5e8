package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.ClusterStore

/** Physical-plan audits: the properties that matter at 100 TB, asserted
  * on `explain` output so a regression that silently de-optimizes a scan
  * or join fails CI, not a production run.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    QueryCatalog.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("j18, j23, q31 and q35 leave the session conf as they found it") {
    val s = spark.newSession()
    GraftExtensions.register(s)
    // every key the entries set unset, then one of them preset
    for (preset <- Seq(None, Some("12345"));
         name <- Seq("j18_bucketed_join", "j23_spj", "q31_runtime_filter", "q35_rule_compose")) {
      preset.foreach(s.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      val conf = s.conf.getAll
      QueryCatalog.queries(name)(s, sf).collect()
      assert(s.conf.getAll == conf, s"$name changed the session conf (preset: $preset)")
    }
  }

  test("p2_clean_text scan prunes to the two referenced columns") {
    val p = plan("p2_clean_text")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"projection not pushed to parquet scan:\n$p")
  }

  test("j6_eps_rewrite is served by the band rewrite, not a cartesian") {
    val p = plan("j6_eps_rewrite")
    assert(p.contains("__graft_band"), s"optimizer rewrite did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cartesian operator survived:\n$p")
  }

  test("d5's user-written round(dist,k)<=eps crossJoin is band-rewritten, not cartesian") {
    val p = plan("d5_embed_neardup")
    assert(p.contains("__graft_band"),
      s"rewrite did not see through the round() wrapper:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cartesian operator survived in d5:\n$p")
  }

  test("q1_agg runs inside whole-stage codegen with partial aggregation") {
    val df = QueryCatalog.queries("q1_agg")(spark, sf)
    df.collect() // finalize the AQE plan in place
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("[codegen id :"), s"no whole-stage codegen span:\n$p")
    // partial (map-side) aggregate before the exchange
    assert(p.contains("partial_sum"))
  }

  test("j3_semi_join picks a broadcast join at small scale and pushes the key filter") {
    val p = plan("j3_semi_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("s1_knn broadcasts the query side (no shuffle of the corpus)") {
    val p = plan("s1_knn")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("lineitem filter pushes predicates into the parquet scan") {
    val p = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 40)
      .select(col("l_orderkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,"),
      s"filter not pushed:\n$p")
  }

  test("ClusterStore point read carries a partition filter on bucket") {
    val path = Files.createTempDirectory("graft-planstore").toString + "/t"
    val store = new ClusterStore(spark, path, nBuckets = 8)
    import spark.implicits._
    val truth = Seq(("c1", "M", "x"), ("c2", "M", "y")).toDF("PK", "SK", "d")
    store.rebuildBucketsFor(truth, truth)
    val p = store.cluster("c1").queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && !p.contains("PartitionFilters: []"),
      s"bucket partition filter missing:\n$p")
  }

  test("j7_asof is one shuffle on the key — no join operator at all") {
    val p = plan("j7_asof")
    assert(!p.contains("Join"), s"as-of should be window-served, found a join:\n$p")
    assert(p.contains("Window"), s"running-last window missing:\n$p")
  }

  test("j8/j9 interval joins never fall back to a nested loop") {
    for (q <- Seq("j8_interval_join", "j9_range_rewrite")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q planned a cartesian operator:\n$p")
    }
    assert(plan("j9_range_rewrite").contains("__graft_slot"),
      "range rewrite did not fire for j9")
  }

  test("d7 decontamination probes via a broadcast of the eval shingle set") {
    val p = plan("d7_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side should not shuffle for the probe:\n$p")
  }

  test("ClusterTable.upsertRows joins are all broadcast — no SMJ of the metadata side") {
    import spark.implicits._
    import graft.operators.ClusterTable
    // parquet-backed table so planning sees a real scan, not a LocalRelation
    val dir = Files.createTempDirectory("graft-upsert-plan").toString + "/t"
    def assigns(rows: (String, String, Boolean, Int, Int)*) =
      rows.toDF("article_id", "cluster_id", "is_cluster", "cluster_size", "batch_new")
    def arts(rows: (String, String, String, String, String)*) =
      rows.toDF("id", "title", "summary", "text", "publication_date")
    val clock = "2024-06-01T00:00:00"
    val t0 = ClusterTable.emptyTable(spark)
    val seed = ClusterTable.upsertRows(t0,
      assigns(("a1", "c1", true, 2, 2), ("a2", "c1", true, 2, 2)),
      arts(("a1", "T1", "S1", "X1", "2024-01-01 00:00:00"),
        ("a2", "T2", "S2", "X2", "2024-01-02 00:00:00")), clock)
    ClusterTable.merge(t0, seed).write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir)
    val up = ClusterTable.upsertRows(table,
      assigns(("a3", "c1", true, 3, 2), ("a4", "c2", true, 1, 1)),
      arts(("a3", "T3", "S3", "X3", "2024-01-03 00:00:00"),
        ("a4", "T4", "S4", "X4", "2024-01-04 00:00:00")), clock)
    up.collect() // finalize any adaptive plan
    val p = up.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      s"upsert fell back to SMJ — a broadcast hint is being ignored again:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    // counter semantics survived the plan change: c1 existed (2+1=3) → 3+(2-1)=4
    val meta = up.filter(col("row_type") === "metadata")
      .select("PK", "number_of_articles").as[(String, Int)].collect().toMap
    assert(meta("c1") == 4 && meta("c2") == 2)
  }

  test("d9 simhash64 pairs come from the band equi-join, not an all-pairs scan") {
    val p = plan("d9_simhash64_band")
    assert(p.contains("__bk"), s"expected Hamming-band keys in the plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cartesian operator in the banded plan:\n$p")
  }

  test("d3 minhash candidate dedup is map-side — no aggregate exchange, no cartesian") {
    val p = plan("d3_minhash_pairs")
    // first-agreeing-band predicate replaced distinct(): the plan must
    // carry NO aggregation at all (the corpus + signature path is pure
    // projection/explode/join/sort)
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate") &&
      !p.contains("SortAggregate"),
      s"aggregate (dedup) exchange survived in d3:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cartesian operator in d3:\n$p")
  }

  test("d10 segment dedup is shuffle-only — no pairwise join operator") {
    val p = plan("d10_segment_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"segment dedup planned a cartesian operator:\n$p")
    // the df count is a partial-aggregated hash shuffle, not a window
    assert(p.contains("HashAggregate") && !p.contains("Window"),
      s"expected pure aggregation plan:\n$p")
  }

  test("d8 bloom probe joins against a broadcast bit set") {
    val p = plan("d8_bloom_dedup")
    assert(p.contains("BroadcastHashJoin"), s"bit set not broadcast:\n$p")
  }

  test("s4 hyperplane ANN candidates come from the (table, code) equi-join") {
    val p = plan("s4_ann_hyperplane")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"hyperplane search planned a cartesian operator:\n$p")
    assert(p.contains("__code"), s"expected code-bucket join keys in the plan:\n$p")
  }

  test("s5 trained k-means search is the broadcast-probes bucket equi-join " +
    "— no cartesian, probes broadcast, corpus never shuffled for the join") {
    val p = plan("s5_ann_kmeans")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"k-means search planned a cartesian operator:\n$p")
    assert(p.contains("__b"), s"expected centroid-bucket join key in the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query probes should broadcast against the assigned corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side must not shuffle for the probe join:\n$p")
  }

  test("d13 semantic dedup candidate pairs come from the centroid-bucket " +
    "equi-join — no cartesian, no global pair materialization") {
    val p = plan("d13_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"SemDeDup planned a cartesian operator:\n$p")
    assert(p.contains("__b"), s"expected the bucket join key in the plan:\n$p")
  }

  test("d11 span detection is equi-join + window + aggregation — no cartesian") {
    val p = plan("d11_span_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span detection planned a cartesian operator:\n$p")
    assert(p.contains("Window"), s"islands window missing:\n$p")
  }

  test("t16 winnowing is one fused expression per document — no join, " +
    "no per-gram exchange, no window sort") {
    val p = plan("t16_fingerprint")
    // optimization r14: the explode+window dataflow (one row per
    // character, an id exchange, two window sorts) was replaced by the
    // fused WinnowFingerprints expression — the plan now carries the
    // per-document Generate and NOTHING between it and the scan
    assert(p.contains("winnow_fingerprints"),
      s"fused winnowing expression missing:\n$p")
    assert(!p.contains("Window"),
      s"per-gram window pass resurfaced (the fused form needs none):\n$p")
    assert(!p.contains("hashpartitioning(doc_id"),
      s"per-gram id exchange resurfaced:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"fingerprinting must not shuffle documents against each other:\n$p")
  }

  test("t17 source cap sheds rows map-side via WindowGroupLimit before " +
    "the source-key exchange") {
    val p = plan("t17_source_cap")
    // Catalyst pushes the rank<=10 filter below the window as a partial
    // group limit: each input partition forwards at most 10 rows per
    // source into the shuffle, so a hot source cannot flood a partition
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed below the window:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      s"scan does not prune to the three referenced columns:\n$p")
  }

  test("t23 group sample sheds rows map-side via WindowGroupLimit and " +
    "prunes the scan to id+lang") {
    val p = plan("t23_group_sample")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed below the window:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"scan does not prune to the two referenced columns:\n$p")
  }

  test("d15 containment candidates come from the fp equi-join, not a cartesian") {
    val p = plan("d15_containment")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment planned a cartesian operator:\n$p")
    // the pairing join keys on the fingerprint value
    assert(p.contains("SortMergeJoin [fp") || p.contains("ShuffledHashJoin [fp")
        || p.contains("BroadcastHashJoin [fp"),
      s"no fp-keyed equi-join found:\n$p")
  }

  test("q3_topk_join broadcasts the customer dim and pushes both date " +
    "predicates into the parquet scans") {
    val p = plan("q3_topk_join")
    assert(p.contains("BroadcastHashJoin"),
      s"customer dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian operator in the reporting join:\n$p")
    // date/segment selections reach the scans, not a post-scan Filter only
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate")
        || p.contains("GreaterThan(l_shipdate"),
      s"l_shipdate predicate not pushed:\n$p")
    assert(p.contains("LessThan(o_orderdate"),
      s"o_orderdate predicate not pushed:\n$p")
    // revenue partial-aggregates map-side before the final top-k
    assert(p.contains("partial_sum"), s"no map-side partial aggregation:\n$p")
  }

  test("m3_media_pack's big window is chunked — no whole-modality " +
    "single-partition pass") {
    val p = plan("m3_media_pack")
    // the corpus-sized running total partitions by (modality, chunk);
    // only the #chunks-row offsets frame may window by modality alone
    assert(p.contains("hashpartitioning(modality") && p.contains("chunk"),
      s"no (modality, chunk) exchange found:\n$p")
    val re = "hashpartitioning\\(modality[^,]*, chunk".r
    assert(re.findFirstIn(p).isDefined,
      s"corpus window not chunked under (modality, chunk):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"chunk offsets must broadcast back, not shuffle the corpus:\n$p")
  }

  test("t21_contamination probes a BROADCAST eval set and shuffles " +
    "only on the doc key") {
    val p = plan("t21_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingle set not broadcast:\n$p")
    assert(p.contains("hashpartitioning(doc_id"),
      s"per-doc roll-up exchange missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian operator in the probe:\n$p")
  }

  test("q18_big_orders aggregates and filters BEFORE the joins, " +
    "partial-aggregating map-side") {
    val p = plan("q18_big_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian operator in the report join:\n$p")
    // the quantity roll-up partial-aggregates before its exchange, and
    // the having-filter runs on the aggregate output (before any join),
    // so only qualifying keys reach the join
    assert(p.contains("partial_sum"), s"no map-side partial aggregation:\n$p")
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0 && joinIdx < aggIdx,
      s"aggregate must be an INPUT of the join (appear below it):\n$p")
  }

  test("w7_rolling is one shuffle on user_id and a single window pass — " +
    "no join, no extra exchange") {
    val p = plan("w7_rolling")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"rolling frame must not join events against themselves:\n$p")
    assert(p.contains("Window"), s"window frame operator missing:\n$p")
    // exactly one data exchange: the hash partition on user_id (the
    // final orderBy adds a range exchange for presentation only)
    def countOf(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    assert(p.contains("hashpartitioning(user_id"),
      s"no user_id hash exchange:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"more than one hash exchange in the rolling plan:\n$p")
  }

  test("w11_time_rolling is one shuffle on user_id and a single RANGE-frame " +
    "window pass — no join, no extra exchange") {
    val p = plan("w11_time_rolling")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"time-range frame must not self-join events:\n$p")
    assert(p.contains("Window"), s"window frame operator missing:\n$p")
    def countOf(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    assert(p.contains("hashpartitioning(user_id"),
      s"no user_id hash exchange:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"more than one hash exchange in the time-rolling plan:\n$p")
  }

  test("q17 self-join never re-exchanges the fact side at small scale — " +
    "AQE broadcasts the shrunken aggregate; part dim broadcast") {
    val df = QueryCatalog.queries("q17_small_orders")(spark, sf)
    df.collect() // finalize AQE
    // AQE explain repeats the pre-adaptive plan under "== Initial
    // Plan =="; audit only the final one
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"joins not broadcast:\n$p")
    def countOf(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    // the ONLY part-key exchange is the aggregate's own build shuffle:
    // its (small) output broadcasts onto the lineitem probe side, which
    // therefore never shuffles on the part key at all. (Past the
    // broadcast threshold AQE degrades to the co-located SMJ — the
    // aggregate output is already hash-partitioned on the key, so the
    // join adds only the probe side's exchange.)
    assert(countOf(p, "Exchange hashpartitioning(l_partkey") == 1,
      s"fact side re-exchanged on the part key:\n$p")
    assert(p.contains("partial_sum"), s"no map-side partial aggregation:\n$p")
  }

  test("t22_exact_sample plans a per-partition top-N (TakeOrdered), " +
    "never a global sort exchange") {
    val p = plan("t22_exact_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"sort+limit did not fuse into TakeOrderedAndProject:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global range-sort exchange in the sample plan:\n$p")
  }

  test("s8 kNN-graph candidates come from the bucket equi-join — " +
    "never a cartesian over the corpus") {
    val p = plan("s8_knn_graph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs operator in the kNN-graph plan:\n$p")
    assert(p.contains("__b"), s"bucket key missing from the join:\n$p")
  }

  test("s9 k-means kNN-graph joins on the trained-bucket key — " +
    "never a cartesian") {
    val p = plan("s9_knn_graph_kmeans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs operator in the k-means kNN-graph plan:\n$p")
    assert(p.contains("__b"), s"bucket key missing from the join:\n$p")
  }

  test("a14 coherence never self-joins the corpus — the only joins are " +
    "the k-row cluster aggregates") {
    val df = QueryCatalog.queries("a14_cluster_coherence")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise/corpus-shuffling join in the coherence plan:\n$p")
  }

  test("t24 repeat strip is fused per document — no explode, no window, " +
    "zero hash exchanges before the presentation sort (optimization r15)") {
    val p = plan("t24_repeat_strip")
    assert(!p.contains("Join"), s"within-doc transform must not join:\n$p")
    assert(!p.contains("Window"), s"lag window survived the fusion:\n$p")
    assert(!p.contains("Generate"), s"segment explode survived the fusion:\n$p")
    def countOf(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    assert(countOf(p, "Exchange hashpartitioning") == 0,
      s"hash exchange in a per-document transform:\n$p")
  }

  test("t25 chunking is pure map-side work — zero hash exchanges, " +
    "no join, no aggregate") {
    val p = plan("t25_seq_chunk")
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      s"chunking must be a per-row transform:\n$p")
    def countOf(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    // only the presentation sort's range exchange may appear
    assert(countOf(p, "Exchange hashpartitioning") == 0,
      s"hash exchange in a map-side transform:\n$p")
  }

  test("q13_cust_dist outer join is a hash join on the key — no BNLJ, " +
    "and the status filter reaches the orders scan") {
    val p = plan("q13_cust_dist")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"outer join fell back to a nested loop:\n$p")
    assert(p.contains("LeftOuter"), s"outer join missing:\n$p")
    // right-side-only predicate is pushed into the parquet scan, not
    // evaluated as a join residual over null-extended rows
    assert(p.contains("EqualTo(o_orderstatus,O)"),
      s"status filter not pushed to the orders scan:\n$p")
  }

  test("q2_min_cost_supplier argmin self-join re-uses the aggregate's " +
    "part-key partitioning and broadcasts both dims") {
    val df = QueryCatalog.queries("q2_min_cost_supplier")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"argmin join fell back to a nested loop:\n$p")
    def countOf(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    // dims ride broadcast exchanges; the fact side exchanges on the
    // part key at most twice (probe + aggregate) — never more
    assert(countOf(p, "BroadcastExchange") >= 2, s"dims not broadcast:\n$p")
    assert(countOf(p, "Exchange hashpartitioning(l_partkey") <= 2,
      s"extra fact exchange:\n$p")
  }

  test("d19_except_release plans as aggregate + anti join on the id — " +
    "no broadcast of the (at-scale huge) release list required shape") {
    val p = plan("d19_except_release")
    assert(p.contains("LeftAnti"), s"EXCEPT did not lower to an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nested loop in set-op plan:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"EXCEPT-distinct aggregate missing:\n$p")
  }

  test("q16_notin plans the NULL-AWARE anti join (NOT IN subquery can't " +
    "lower to a plain anti join over unprovably-non-null parquet columns)") {
    val p = plan("q16_notin")
    // BroadcastHashJoin's 4th argument / HashedRelationBroadcastMode's
    // 2nd is the isNullAwareAntiJoin flag
    assert(p.contains("LeftAnti, BuildRight, true") &&
      p.contains("HashedRelationBroadcastMode(List(input[0, bigint, true]),true)"),
      s"null-aware anti join missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in NOT IN plan:\n$p")
  }

  test("j12_full_outer_diff is a sort-merge FULL OUTER on the id — " +
    "neither side broadcast, no nested loop") {
    val p = plan("j12_full_outer_diff")
    assert(p.contains("FullOuter"), s"full outer missing:\n$p")
    assert(p.contains("SortMergeJoin"), s"expected SMJ for full outer:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nested loop in full outer plan:\n$p")
  }

  test("d20_intersect lowers to distinct + semi join on the id, and " +
    "a16_pivot with a pinned value list is ONE aggregate pass (no " +
    "distinct-values expansion job)") {
    val pI = plan("d20_intersect_releases")
    assert(pI.contains("LeftSemi"), s"INTERSECT did not lower to semi join:\n$pI")
    assert(pI.contains("HashAggregate") || pI.contains("SortAggregate"),
      s"INTERSECT-distinct aggregate missing:\n$pI")
    val pP = plan("a16_pivot")
    def countOf(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    // one partial + one final aggregate over day — a pivot that first
    // scans for distinct values would add a second aggregate pair
    assert(countOf(pP, "Exchange hashpartitioning") == 1,
      s"pivot should shuffle once on the day key:\n$pP")
    assert(!pP.contains("Join"), s"pivot must not join:\n$pP")
  }

  test("d22's user-written crossJoin + levenshtein filter is rewritten " +
    "to the PassJoin segment equi-join — no cartesian survives") {
    val p = plan("d22_edit_rewrite")
    assert(p.contains("__graft_ed"), s"edit-distance rewrite did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cartesian operator survived in d22:\n$p")
  }

  test("q19's disjunctive residual rides the partkey hash join and the " +
    "derived brand-IN common factor reaches the part scan") {
    val p = plan("q19_disjunctive")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"disjunctive join fell to a nested loop:\n$p")
    // Catalyst projects the disjunction onto EACH side and pushes both:
    // the brand/size OR to the part scan, the quantity OR to lineitem
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"brand/size disjunction not pushed to the part scan:\n$p")
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"quantity disjunction not pushed to the lineitem scan:\n$p")
  }

  test("j13 double correlation is a left-semi THEN a left-anti hash " +
    "join on the user key — never a per-row subquery or nested loop") {
    val p = plan("j13_semi_anti_funnel")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"semi/anti pair missing:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nested loop in funnel plan:\n$p")
  }

  test("d17_boilerplate_strip is shuffle-only segment plumbing — " +
    "no cartesian, no nested loop") {
    val p = plan("d17_boilerplate_strip")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise operator in the strip plan:\n$p")
    assert(p.contains("SortAggregate") || p.contains("ObjectHashAggregate") ||
      p.contains("HashAggregate"), s"no aggregate in strip plan:\n$p")
  }

  test("q15 global argmax is a single-row broadcast filter — no Window " +
    "sort over the per-supplier view") {
    val p = plan("q15_top_supplier")
    assert(!p.contains("Window"),
      s"argmax fell back to a window sort over the whole view:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the max scalar is not broadcast:\n$p")
  }

  test("q20 dominance screen is windowed totals over the pair " +
    "aggregate — no join of two aggregates, no second fact scan") {
    val p = plan("q20_dominant_suppliers")
    assert(p.contains("Window"), s"windowed totals missing:\n$p")
    // the supplier-name broadcast is the ONLY join; the naive plan's
    // aggregate-self-join on the part key must not exist
    assert(!p.contains("SortMergeJoin"),
      s"aggregate self-join crept back in:\n$p")
    assert("(?s)Scan parquet.*lineitem".r.findAllIn(p).length == 1,
      s"fact scanned more than once:\n$p")
  }

  test("t28 CMS build aggregates partially map-side — the token stream " +
    "never shuffles raw, and the probe joins the broadcast cells") {
    val p = plan("t28_cms_heavy")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side partial aggregation in the sketch build:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"cells probe fell to a sort-merge join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in CMS plan:\n$p")
  }

  test("q6 filter-aggregate pushes all three predicates and prunes to " +
    "the four referenced columns") {
    // formatted mode: the tree-string print TRUNCATES long PushedFilters
    // lists with an ellipsis, hiding the discount/quantity entries
    val p = QueryCatalog.queries("q6_forecast_revenue")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      p.contains("LessThanOrEqual(l_discount,0.07)") &&
      p.contains("LessThan(l_quantity,24.0)") &&
      p.contains("GreaterThanOrEqual(l_shipdate,"),
      s"range predicates did not reach the parquet scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp"),
      s"scan reads more than the four referenced columns:\n$p")
  }

  test("q10 aggregates revenue on the 8-byte customer key BEFORE the " +
    "dim joins — name/acctbal never ride the fact shuffle") {
    val p = plan("q10_returned_customers")
    assert(p.contains("keys=[o_custkey"),
      s"aggregate not keyed on the customer key:\n$p")
    // no aggregate groups by the wide customer attributes
    val aggKeyLines = p.linesIterator.filter(_.contains("HashAggregate(keys=")).toSeq
    assert(aggKeyLines.nonEmpty && aggKeyLines.forall(l =>
      !l.contains("c_name") && !l.contains("c_acctbal")),
      s"customer attributes dragged through the aggregate:\n$p")
  }

  test("t29 curation pipeline is exactly four exchanges — fingerprint " +
    "window, contaminated-id distinct, eval-shingle distinct, report " +
    "sort — with the eval set broadcast") {
    val root = QueryCatalog.queries("t29_curation_pipeline")(spark, sf)
      .queryExecution.executedPlan
    val inner = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case x => x
    }
    val shuffles = inner.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.toString
    }
    assert(shuffles.length == 4,
      s"exchange census drifted (expected 4):\n${shuffles.mkString("\n")}")
    assert(shuffles.exists(_.contains("fp#")) &&
      shuffles.exists(_.contains("sh#")) &&
      shuffles.exists(_.contains("rangepartitioning")),
      s"unexpected exchange keys:\n${shuffles.mkString("\n")}")
    val broadcasts = inner.collect {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => 1
    }
    assert(broadcasts.nonEmpty, "eval-set shingles not broadcast")
  }

  test("t34 training manifest: the corpus-width dedup/decontaminate/" +
    "quality stages run ONCE into the survivor-manifest checkpoint; " +
    "every exchange after it carries only the narrow manifest (no text), " +
    "census pinned at 12") {
    val root = QueryCatalog.queries("t34_training_manifest")(spark, sf)
      .queryExecution.executedPlan
    val inner = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case x => x
    }
    val p = inner.toString
    // downstream plans against the materialized manifest, not a replay
    // of the dedup subtree
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"survivor manifest is not checkpoint-backed:\n$p")
    assert(!p.contains("text#"),
      s"document text leaked past the survivor manifest:\n$p")
    val shuffles = inner.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.toString
    }
    assert(shuffles.length == 12,
      s"post-manifest exchange census drifted (expected 12):\n" +
        shuffles.mkString("\n"))
    assert(shuffles.exists(_.contains("lang#")) &&
      shuffles.exists(_.contains("chunk#")) &&
      shuffles.exists(_.contains("shard#")),
      s"unexpected exchange keys:\n${shuffles.mkString("\n")}")
  }

  test("q8 market share: both dim arms broadcast onto the facts and the " +
    "ratio comes out of ONE aggregation pass") {
    val p = plan("q8_market_share")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast dim arm:\n$p")
    // one final aggregate pass computes numerator+denominator together:
    // no self-join of two aggregates over the join tree
    assert("HashAggregate".r.findAllIn(p).length <= 4,
      s"more aggregate passes than the single conditional-ratio pass:\n$p")
  }

  test("q9 profit roll-up: the LIKE filter reaches the part scan as a " +
    "contains pushdown, the pruned dims broadcast, and the scan is " +
    "column-pruned") {
    val p = QueryCatalog.queries("q9_profit_rollup")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("StringContains(p_name,gear)"),
      s"LIKE '%gear%' did not push to the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim arms not broadcast:\n$p")
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string," +
      "p_retailprice:double"),
      s"part scan reads more than the three referenced columns:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q12 priority split: the order-date window pushes to the orders " +
    "scan; the two conditional counts come out of ONE aggregation pass") {
    val p = QueryCatalog.queries("q12_shipmode")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate,") &&
      p.contains("LessThan(o_orderdate,"),
      s"order-date window did not reach the orders scan:\n$p")
    // lineitem scan prunes to the three referenced columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity") ||
      p.contains("ReadSchema: struct<l_orderkey:bigint,l_returnflag:string," +
        "l_shipdate:timestamp"),
      s"lineitem scan not pruned:\n$p")
    // both flag counts ride ONE aggregation pass: 2 physical nodes
    // (partial + final), each printed twice by formatted mode (tree +
    // detail section) = 4 mentions
    assert("HashAggregate".r.findAllIn(p).length <= 4,
      s"priority split took more than one aggregation pass:\n$p")
  }

  test("j16 MERGE never shuffles the target — every join is broadcast " +
    "and the only exchange is the presentation sort") {
    val p = plan("j16_merge_upsert")
    assert(!p.contains("SortMergeJoin"),
      s"target was shuffled into a sort-merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a hash exchange appeared — the copy-on-write shape is lost:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"delta not broadcast:\n$p")
  }

  test("j17 SCD2 builds both window passes over ONE user_id exchange") {
    val p = plan("j17_scd2")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"the two windows should share a single user_id exchange:\n$p")
    assert("Window".r.findAllIn(p).length >= 2, s"expected lag+lead windows:\n$p")
  }

  test("s12 matryoshka rerank is ONE corpus join — stage 2 re-scores the " +
    "overfetched candidates in place, never joins again") {
    val p = plan("s12_matryoshka")
    assert("Join".r.findAllIn(p).length <= 2, // one operator, tree+detail print
      s"rerank should not add a second join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side not broadcast:\n$p")
  }

  test("q27 state merge aggregates partially map-side at every level") {
    val df = QueryCatalog.queries("q27_incremental_agg")(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"map-side combine missing from the state halves:\n$p")
  }

  test("p19 hive-partitioned read prunes the directory listing to the two " +
    "matching lang partitions — the predicate is a PartitionFilter, not a " +
    "data filter") {
    val p = plan("p19_partition_prune")
    assert(p.contains("PartitionFilters: [") && !p.contains("PartitionFilters: []"),
      s"lang predicate did not become a partition filter:\n$p")
    assert(p.contains("lang") && p.contains("IN (en,de)"),
      s"IN-list partition filter missing:\n$p")
    // the partition column is served by directory names: the file scan
    // reads only the two data columns, never a lang column from bytes
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan should read only doc_id+text from file bytes:\n$p")
  }

  test("w24 sequential funnel is ONE exchange on user_id — windows and " +
    "final aggregate all ride the same partitioning, no per-step joins") {
    val p = plan("w24_funnel")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"funnel must shuffle exactly once:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"funnel must not plan any join:\n$p")
  }

  test("s14_phrase_search is one doc_id shuffle serving the window AND " +
    "the aggregate — no postings self-join") {
    val p = plan("s14_phrase_search")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"phrase match must shuffle exactly once:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the scan-side phrase plan must not join:\n$p")
    assert(p.contains("Window"), s"adjacency must ride a window pass:\n$p")
  }

  test("t33_weighted_sample is one lang shuffle and a single window pass " +
    "— the priority rank never joins or re-shuffles") {
    val p = plan("t33_weighted_sample")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"weighted sampling must shuffle exactly once:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q31's fact side carries a runtime BLOOM filter from the filtered " +
    "dim side — might_contain(l_orderkey) dies at the scan, not the shuffle") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "true"); conf.set(keys(1), "0"); conf.set(keys(2), "-1"); conf.set(keys(2), "-1")
      val urgent = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val df = Tables.lineitem(spark, sf)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      df.collect() // finalize under AQE
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter was not injected on the fact side:\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("q35 composition: MV rewrite + DPP + runtime bloom fire together " +
    "in ONE plan — MV serves the rollup arm (its fact scan gone), the " +
    "detail arm keeps its runtime-pruned partitioned scan, the bloom arm " +
    "keeps its might_contain fact scan") {
    import graft.plans.MvRewrite
    // same construction as the catalog entry, WITHOUT the eager
    // localCheckpoint, so the composed executed plan is inspectable
    val factDir = SparkHygiene.scratchDir("q35p_fact")
    Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("c_nationkey").as("nation_key"))
      .write.mode("overwrite").partitionBy("nation_key").parquet(factDir)
    val mvDir = SparkHygiene.scratchDir("q35p_mv")
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .write.mode("overwrite").parquet(mvDir)
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "true"); conf.set(keys(1), "0"); conf.set(keys(2), "-1")
      MvRewrite.register(spark, MvRewrite.MvDef(
        factPathSuffix = s"$sf/lineitem.parquet",
        mvPlan = spark.read.parquet(mvDir).queryExecution.analyzed,
        groupCols = Set("l_returnflag", "l_linestatus"),
        countCol = "n_rows",
        sumCols = Map("l_quantity" -> "sum_qty")))
      val rollup = Tables.lineitem(spark, sf)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("val"))
        .select(lit("rollup").as("arm"), col("l_returnflag").as("key"),
          col("n"), col("val"))
      val dim = Tables.nation(spark, sf)
        .join(Tables.region(spark, sf), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey"), col("n_name"))
      val detail = spark.read.parquet(factDir)
        .join(broadcast(dim), col("nation_key") === col("n_nationkey"))
        .groupBy(col("n_name").as("key"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,6)")), 4)
            .cast("double").as("val"))
        .select(lit("detail").as("arm"), col("key"), col("n"), col("val"))
      val urgent = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val bloom = Tables.lineitem(spark, sf)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag").as("key"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("val"))
        .select(lit("urgent").as("arm"), col("key"), col("n"), col("val"))
      val df = rollup.unionByName(detail).unionByName(bloom)
      df.collect() // finalize under AQE
      // the MV substitution is a LOGICAL rewrite — pin it on the
      // optimized plan's relation paths (AQE's executed-plan string
      // elides materialized stages' scan details, so string-counting
      // there is unstable): after the rewrite exactly one lineitem
      // relation (the bloom arm's) and the MV relation must remain
      val scanPaths = df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.mkString(",")
            case _ => ""
          }
      }
      assert(scanPaths.exists(_.contains(mvDir.split('/').last)),
        s"rollup arm is not MV-served; scans: $scanPaths")
      assert(scanPaths.count(_.contains("lineitem.parquet")) == 1,
        s"exactly ONE lineitem scan (the bloom arm's) may survive; " +
          s"scans: $scanPaths")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom missing from the urgent arm:\n$p")
      assert("PartitionFilters: \\[[^\\]]*dynamicpruningexpression\\(n".r
          .findFirstIn(p).isDefined,
        s"non-trivial DPP missing from the detail arm's partitioned scan " +
          s"(a removed subquery prints dynamicpruningexpression(true)):\n$p")
    } finally {
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
      MvRewrite.clear(spark)
    }
  }

  test("q28 fact scan carries a DYNAMIC partition filter from the dim " +
    "side — the region predicate prunes fact directories at runtime") {
    val p = plan("q28_dpp_prune")
    assert(p.contains("dynamicpruningexpression"),
      s"dynamic partition pruning did not plant on the fact scan:\n$p")
    // the pruning subquery must land on the PARTITION filter list of
    // the fact scan (directory-level skip), not a row-level DataFilter
    assert("PartitionFilters: \\[[^\\]]*dynamicpruningexpression".r
        .findFirstIn(p).isDefined,
      s"dynamic filter is not a partition filter on the fact scan:\n$p")
  }
}
