package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from the SURVEY §2 inventory (or a
  * training-data-pipeline operator) run against the driver testdata at
  * `sfDir`; `oracleSql` holds the DuckDB-equivalent SQL for the hash
  * compare. Column names are aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship: A9 UI cluster aggregation over the full news pipeline
    * (preprocess → embed → incremental ε-clustering → upsert → trigger →
    * summarize). Driver smoke-checks rows>0 at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    QueryCatalog.queries("a9_ui_clusters")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryCatalog.queries

  def oracleSql: Map[String, String] = QueryCatalog.oracleSql
}

/** The operator-inventory query catalog (SURVEY §2 line-by-line). */
object QueryCatalog {

  import graft.functions.VectorFns

  /** Co-purchase part pairs: one row per (order, a, b) with a, b
    * distinct parts of the same order — `strict` keeps a < b (the
    * undirected form), otherwise a ≠ b (both directions). Columns
    * (l_partkey, pk2), matching what the former distinct + self-join
    * produced row-for-row.
    *
    * Optimization r14 (guide §2.4 remove shuffles / §3 joins): the
    * original shape — distinct(orderkey, partkey), self-join on
    * orderkey, pair filter — paid 4 exchanges (the distinct, both join
    * sides repartitioning (ok,pk)→ok, the downstream pair dedup) plus
    * the join itself. Grouping to per-order part sets and fanning the
    * pairs out with a double explode computes the identical pair
    * multiset at 2 exchanges (the map-side-partial collect_set, the
    * downstream dedup/weight groupBy) and no join at all. Skew-safe at
    * scale: the fan-out is |parts-per-order|² inside one row's
    * Generate, and order sizes are bounded (TPC-H ≤ 7; a real basket
    * is dozens), so no single task inflates.
    */
  private def coPurchasePairs(s: SparkSession, dir: String,
                              strict: Boolean): DataFrame = {
    val sets = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("pks"))
    val cond =
      if (strict) col("l_partkey") < col("pk2")
      else col("l_partkey") =!= col("pk2")
    sets.select(explode(col("pks")).as("l_partkey"), col("pks"))
      .select(col("l_partkey"), explode(col("pks")).as("pk2"))
      .filter(cond)
  }

  /** The shuffle-join regime under which the runtime bloom filter is
    * injected (q31, q35): the rule refuses injection when the creation
    * side is broadcastable by size. */
  private val BloomRegime = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // portable-aggregation convention (see Catalogs.scala): sum
        // doubles in decimal (associative ⇒ order-independent), cast
        // back to double after the round; means divide the decimal sum
        // as double by the count
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,6)")), 4)
            .cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,6)")), 4)
            .cast("double").as("sum_price"),
          round(sum(col("l_discount").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "j3_semi_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // orders with no lineitems — non-vacuous at every sf (257 rows at sf0.01)
    "j4_anti_join" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))),

    // the salted skew join IN the oracle gate (the one component that
    // was spec-only): saltedJoin is result-identical to the plain
    // equi-join by construction, so the oracle IS the plain join —
    // this row proves the salt/replicate/drop mechanics lose and invent
    // nothing; SkewToolsSpec covers the partition-spread mechanics
    "j10_salted_join" -> ((s, dir) => {
      val facts = Tables.lineitem(s, dir)
        .filter(col("l_quantity") >= 49)
        .select(col("l_partkey").as("partkey"), col("l_orderkey"), col("l_quantity"))
      val dim = Tables.part(s, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.operators.SkewTools.saltedJoin(facts, dim, "partkey", salts = 8)
        .select(col("l_orderkey"), col("partkey"), col("l_quantity"), col("p_brand"))
        .orderBy(col("l_orderkey"), col("partkey"))
    }),

    // includes an injected non-ASCII row so the two engines' regex
    // character-class semantics are proven to agree beyond ASCII
    // (VERDICT r1 "what's wrong" #3)
    "p2_clean_text" -> ((s, dir) => {
      val extra = s.range(1).select(
        lit(-1L).as("doc_id"),
        lit("José «café» — &quot;ok&quot; 12:30").as("text"))
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .unionByName(extra)
        .select(
          col("doc_id"),
          TextFns.cleanText(col("text")).as("cleaned"))
        .orderBy(col("doc_id"))
    }),

    // Multi-level aggregate (ROLLUP): per-(flag, status) subtotals, per-
    // flag subtotals, and the grand total in ONE pass — Catalyst expands
    // the grouping sets map-side, so the input is still read once and
    // partially aggregated before the single exchange (vs three separate
    // scans+shuffles for the three levels). grouping_id disambiguates
    // subtotal rows from genuine NULL keys; sums in decimal per the
    // portable-aggregation convention.
    "a11_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().as("lvl"),
          count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,6)")), 4)
            .cast("double").as("sum_qty"))
        .orderBy(col("lvl"), col("l_returnflag"), col("l_linestatus"))),

    // CUBE companion to a11's ROLLUP: all four grouping sets —
    // (flag,status), (flag), (status), () — in one pass. The extra
    // (status)-only level is what ROLLUP can't produce; Catalyst still
    // expands the sets map-side off a single scan with partial
    // aggregation before the one exchange (4× the aggregate state per
    // mapper, not 4 scans). grouping_id() disambiguates subtotal rows
    // from genuine NULL keys, exactly as in a11.
    "a15_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().as("lvl"),
          count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,6)")), 4)
            .cast("double").as("sum_qty"))
        .orderBy(col("lvl"), col("l_returnflag"), col("l_linestatus"))),

    // NOT IN (subquery) — the null-aware anti join. Parquet columns are
    // nullable as far as Catalyst can prove, so `c_custkey NOT IN
    // (SELECT o_custkey ...)` cannot lower to a plain anti join (one
    // NULL in the subquery would empty the result under three-valued
    // logic); Spark plans the dedicated null-aware single-column
    // BroadcastHashJoin. Same 49 zero-'O'-customers as q13's outer
    // histogram, through a genuinely different plan shape.
    "q16_notin" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("__g_customer")
      Tables.orders(s, dir).createOrReplaceTempView("__g_orders")
      s.sql(
        """SELECT c_custkey, c_name FROM __g_customer
          |WHERE c_custkey NOT IN
          |  (SELECT o_custkey FROM __g_orders WHERE o_orderstatus = 'O')
          |ORDER BY c_custkey""".stripMargin)
    }),

    // TPC-H Q3-shaped shipping-priority top-k: the canonical two-join +
    // aggregate + top-k reporting plan. The filtered customer dim is
    // broadcast (no shuffle on the fact side for it); orders⋈lineitem
    // shuffles once on the order key; revenue is partially aggregated
    // map-side before the top-10. Selections are pushed to the parquet
    // scans (date/segment predicates in PushedFilters). Revenue is
    // summed in decimal per the portable-aggregation convention.
    "q3_topk_join" -> ((s, dir) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 4)
          .cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q18-shaped large-volume-order report: the aggregate-as-join-
    // filter plan shape (none of q1/q3/q5 exercise it) — an aggregation's
    // OUTPUT becomes a fact-join input. The having-filter runs on the
    // aggregate BEFORE the joins, so only qualifying order keys (≈1.5%
    // of orders at every SF) reach the join at all; the filtered
    // aggregate is small enough that AQE picks a broadcast join onto
    // orders (unhinted — same scale reasoning as q5's supplier arm),
    // and customer joins the shrunken result. Quantity sums in decimal
    // per the portable-aggregation convention; top-100 bounds the
    // report deterministically (qty desc, order key tie-break).
    "q18_big_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity").cast("decimal(18,6)")), 4)
          .cast("double").as("total_qty"))
        .filter(col("total_qty") > 250)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q4-shaped late-order report: the CORRELATED-predicate
    // EXISTS — the semi-join j3 does not exercise, because the inner
    // predicate references BOTH tables (l_shipdate vs o_orderdate + 60
    // days), so the condition must ride the join itself rather than
    // prefilter either side alone. Catalyst plans it as one left-semi
    // hash join on the order key with the date comparison as the join
    // residual; the order side then aggregates by status. At scale:
    // one key shuffle per side (or broadcast under AQE), residual
    // evaluated stream-side — never a per-order subquery.
    "q4_late_orders" -> ((s, dir) => {
      val late = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"))
      Tables.orders(s, dir)
        .join(late,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_late"))
        .orderBy(col("o_orderstatus"))
    }),

    // TPC-H Q17-shaped small-order revenue: the aggregate-correlated
    // SELF-join shape (q18 joins an aggregate to OTHER tables; here the
    // fact table joins ITS OWN per-key aggregate — the "compare each row
    // to its group's statistic" pattern every outlier/trim pipeline
    // needs). Scale shape: the per-part aggregate partial-aggregates
    // map-side and shuffles once on the part key; its output is ALREADY
    // hash-partitioned on that key, so the self-join adds only the probe
    // side's exchange — two part-key exchanges total, and the part dim
    // broadcasts. The threshold compare (qty < 0.2·avg) runs as the
    // exact integer cross-multiply 5·qty·n < Σqty (quantities are
    // integer-valued by data contract) — no decimal-division rounding
    // convention needed on either engine.
    "q17_small_orders" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val agg = li.groupBy(col("l_partkey")).agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_li"))
        .withColumnRenamed("l_partkey", "pk")
      val part = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      li.join(agg, col("l_partkey") === col("pk"))
        .filter(col("l_quantity").cast("long") * col("n_li") * 5 < col("sum_qty"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small"),
          round(sum(col("l_extendedprice").cast("decimal(18,6)")), 4)
            .cast("double").as("lost_revenue"))
        .orderBy(col("p_brand"))
    }),

    // TPC-H Q13-shaped customer order-count distribution: the batch
    // LEFT OUTER reporting shape — customers with ZERO qualifying
    // orders must survive into the histogram (49 of 1,500 at sf0.01
    // under the status filter, so the zero bucket is non-vacuous).
    // The right-side-only predicate (o_orderstatus = 'O') prefilters
    // the orders scan — equivalent to a join residual for LEFT OUTER
    // and pushdown-friendly. Scale shape: one custkey shuffle each
    // side for the outer join (a 1000-executor plan — neither side
    // broadcastable at 100 TB), then count(o_orderkey) ignores the
    // null-extended rows (the outer-aware count); the second aggregate
    // keys on c_count whose cardinality is tiny (max orders per
    // customer), so the histogram exchange is negligible.
    "q13_cust_dist" -> ((s, dir) => {
      val ords = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"), col("o_orderkey"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(ords, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("n_cust").desc, col("c_count").desc)
    }),

    // TPC-H Q2-shaped cheapest-supplier lookup: the correlated-MIN
    // subquery — join the fact table against its own per-group MIN
    // (the argmin-join complement of q17's per-group AVG). Ties on the
    // min price resolve to the lowest supplier key, so the argmin is
    // deterministic without a window sort. The equality probe on the
    // min price is an exact double selection (no arithmetic on either
    // engine — safe to join on). Scale shape: the per-part min partial-
    // aggregates map-side and shuffles once on the part key; its output
    // is already hash-partitioned on that key so the self-join adds
    // only the probe side's exchange; part and supplier dims broadcast.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      val minp = li.groupBy(col("l_partkey"))
        .agg(min(col("l_extendedprice")).as("min_price"))
        .withColumnRenamed("l_partkey", "pk")
      li.join(minp, col("l_partkey") === col("pk") &&
          col("l_extendedprice") === col("min_price"))
        .groupBy(col("l_partkey"), col("min_price"))
        .agg(min(col("l_suppkey")).as("best_suppkey"))
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
          col("best_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_brand"), col("min_price"),
          col("best_suppkey"), col("s_name"))
        .orderBy(col("p_partkey"))
        .limit(200)
    }),

    // TPC-H Q11-shaped value concentration: an aggregate filtered
    // against a GLOBAL aggregate scalar (HAVING sum > threshold derived
    // from the total) — the scalar-subquery-in-HAVING shape q17/q2
    // (per-group statistics) don't exercise. The threshold is a
    // MULTIPLE OF THE MEAN part value (1.5×), not a fixed fraction of
    // the total — Q11's literal fraction silently empties as the part
    // count grows with scale, a mean-multiple selects the same "above
    // average" band at every SF. The global (total, part-count) scalar
    // folds in as a broadcast single-row cross join, so the per-part
    // aggregate stream-filters against it with no extra exchange; sums
    // run in decimal (order-independent), the comparison on the
    // rounded doubles exactly as the oracle computes them.
    "q11_value_parts" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_extendedprice"))
      val perPart = li.groupBy(col("l_partkey"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)")), 4)
          .cast("double").as("part_value"))
      val total = li.agg(
        round(sum(col("l_extendedprice").cast("decimal(18,6)")), 4)
          .cast("double").as("__tot"),
        countDistinct(col("l_partkey")).cast("double").as("__n"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_value") > lit(1.5) * (col("__tot") / col("__n")))
        .select(col("l_partkey"), col("part_value"),
          round(col("part_value") / col("__tot"), 6).as("share"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    }),

    // TPC-H Q19-shaped disjunctive-predicate join: the OR-of-
    // conjunctions residual — each disjunct pairs a part attribute
    // with a lineitem attribute, so none of it can prefilter either
    // side alone, but Catalyst still (a) extracts the common partkey
    // equi-key for the hash join and (b) derives the IN(brand-list)
    // common factor and pushes it to the part scan. The residual
    // evaluates stream-side per matched row. The shape every
    // rule-engine / eligibility query compiles to.
    "q19_disjunctive" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))
      val pt = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      li.join(pt, col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#12" &&
            col("l_quantity").between(1, 11) && col("p_size").between(1, 15)) ||
          (col("p_brand") === "Brand#23" &&
            col("l_quantity").between(10, 20) && col("p_size").between(1, 25)) ||
          (col("p_brand") === "Brand#25" &&
            col("l_quantity").between(20, 30) && col("p_size").between(1, 35))))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast("decimal(18,6)") *
              (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 4)
            .cast("double").as("revenue"))
        .orderBy(col("p_brand"))
    }),

    // TPC-H Q14-shaped promo share: the RATIO OF CONDITIONAL
    // AGGREGATES over a join — numerator and denominator computed in
    // the SAME aggregation pass (one scan, one exchange), never two
    // passes self-joined; the part dim broadcast onto the fact. Sums
    // in decimal; the final division is one exactly-rounded double op.
    "q14_promo_share" -> ((s, dir) => {
      val lo = lit("1996-06-01").cast("timestamp")
      val hi = lit("1996-07-01").cast("timestamp")
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
      val rev = col("l_extendedprice").cast("decimal(18,6)") *
        (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(18,6)"))), 4).cast("double")
            .as("promo_revenue"),
          round(sum(rev), 4).cast("double").as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          round(lit(100.0) * (col("promo_revenue") / col("total_revenue")), 6)
            .as("promo_share"))
    }),

    // TPC-H Q5-shaped local-supplier revenue: the full six-table join
    // chain. Star-schema treatment: region⋈nation collapses to a tiny
    // in-region nation dim, supplier joins it and broadcasts onto
    // lineitem (no fact shuffle for the whole supplier→region arm);
    // customer⋈orders shuffles once on the customer key, the result
    // joins lineitem on the order key (the second and last fact
    // shuffle). The supplier-arm broadcast is NOT hinted (ADVICE r7):
    // the arm grows ~10k rows × sf, so auto-broadcast/AQE picks
    // broadcast while it fits the threshold and degrades to a shuffle
    // join at scales where a forced broadcast would OOM the driver.
    // The c_nationkey = s_nationkey "local supplier" residual
    // runs AFTER the equi-joins as a cheap filter. Date predicates are
    // pushed to the orders scan; revenue sums in decimal per the
    // portable-aggregation convention.
    "q5_region_revenue" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val natAsia = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val supp = Tables.supplier(s, dir)
        .join(natAsia, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val ordCust = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(ordCust, col("l_orderkey") === col("o_orderkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 4)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q15-shaped top supplier: select the group(s) achieving the
    // GLOBAL maximum of an aggregate — the argmax-over-view shape (q2
    // is per-group min; q11 filters against a global MEAN; this keeps
    // only the max row(s), ties preserved, no LIMIT). The per-supplier
    // revenue aggregates once (map-side partials, one suppkey
    // exchange); the global max is a single-row broadcast the view
    // stream-filters against — no window sort over the whole view, no
    // second scan of the fact. Equality on the rounded decimal-sum
    // doubles is exact (both engines compare the identical bits), so
    // ties survive deterministically. Supplier dim broadcasts for the
    // name lookup.
    "q15_top_supplier" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-04-01").cast("timestamp")
      val perSupp = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 4)
          .cast("double").as("total_revenue"))
      val maxRev = perSupp.agg(max(col("total_revenue")).as("__max"))
      perSupp.crossJoin(broadcast(maxRev))
        .filter(col("total_revenue") === col("__max"))
        .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q22-shaped idle-wealthy-customers report: the three-way
    // compound no other q-row exercises TOGETHER — a scalar aggregate
    // computed over a FILTERED slice of the same table (avg balance of
    // in-credit customers), applied as a cross-table filter, THEN an
    // anti join (customers with no OPEN orders — the status filter
    // keeps the anti-side non-vacuous at every SF, exactly q13's
    // zero-bucket population), THEN a group-report keyed on a dim
    // attribute. Plan shape at scale: the scalar is one single-row
    // broadcast (no self-join of customer); the anti join shuffles on
    // the customer key (or broadcasts the filtered left under AQE);
    // the final aggregate keys on nationkey (tiny exchange). The mean
    // is the decimal-sum / count rounded once so both engines compare
    // against the identical double.
    "q22_idle_customers" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(round(sum(col("c_acctbal").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("__avg"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg"))
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,6)")), 4)
            .cast("double").as("total_bal"))
        .orderBy(col("c_nationkey"))
    }),

    // TPC-H Q8-shaped market share: the SEVEN-table two-arm star (q5
    // is six tables, one arm) with a per-group CONDITIONAL RATIO —
    // one nation's share of a region's market revenue per order-year.
    // The customer arm restricts the market (region→nation→customer,
    // each step broadcast into the next, then one custkey shuffle
    // against orders); the supplier arm tags each row with the selling
    // nation (auto/AQE broadcast, unhinted, same scale reasoning as
    // q5); numerator and denominator come out of the SAME aggregation
    // pass via a conditional decimal sum — never two passes joined.
    // year() is pure integer extraction; the share division is one
    // exactly-rounded double op.
    "q8_market_share" -> ((s, dir) => {
      val lo = lit("1995-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val amNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val custAm = Tables.customer(s, dir)
        .join(broadcast(amNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
        .join(custAm, col("o_custkey") === col("c_custkey"))
      val supp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .select(col("n_nationkey").as("snk"), col("n_name"))),
          col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val rev = col("l_extendedprice").cast("decimal(18,6)") *
        (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_year"))
        .agg(
          round(sum(when(col("supp_nation") === "NATION_6", rev)
            .otherwise(lit(0).cast("decimal(18,6)"))), 4).cast("double")
            .as("nation_revenue"),
          round(sum(rev), 4).cast("double").as("market_revenue"))
        .select(col("o_year"), col("nation_revenue"), col("market_revenue"),
          round(col("nation_revenue") / col("market_revenue"), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q9-shaped profit roll-up (VERDICT r10 #7): a LIKE-filtered
    // part dimension drives a five-table star (part → lineitem ←
    // supplier → nation, lineitem → orders for the year), with a
    // COMPUTED two-term profit expression aggregated by nation × year.
    // The testdata has no partsupp, so supply cost is modeled as
    // 10% of p_retailprice × quantity — same plan shape (dim attribute
    // multiplied into the fact measure), different constant. Scale
    // shape: the LIKE filter prunes part FIRST (pushed to the scan as a
    // contains-filter), the pruned dim broadcasts, supplier→nation
    // broadcasts, and only the orders join shuffles on orderkey; the
    // groupBy key (nation, year) is tiny. Decimal staging: every
    // product is cast back to decimal(18,6) — values fit losslessly
    // (price 2dp × (1−disc) 2dp; retail 1dp × integer qty × 0.1) — so
    // neither engine hits its 38-digit precision cap differently.
    "q9_profit_rollup" -> ((s, dir) => {
      val gearParts = Tables.part(s, dir)
        .filter(col("p_name").like("%gear%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val supp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val dec = "decimal(18,6)"
      val rev = (col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))).cast(dec)
      val cost = ((col("p_retailprice").cast(dec) *
        col("l_quantity").cast(dec)).cast(dec) *
        lit(0.1).cast(dec)).cast(dec)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(gearParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), col("o_year"))
        .agg(round(sum(rev - cost), 4).cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year"))
    }),

    // TPC-H Q12-shaped two-flag conditional aggregate (VERDICT r10 #7):
    // late-shipped lineitems (shipped > 60 days after the order date —
    // the testdata has no commit/receipt dates, so lateness is the
    // ship−order gap) bucketed by return flag, with the order-priority
    // split computed as TWO conditional sums in the SAME aggregation
    // pass — never two scans joined. The date-window filter on orders
    // pushes to its scan; the lateness predicate is a join-level filter
    // (it references both sides). One orderkey shuffle; the group key
    // is 3 values.
    "q12_shipmode" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val highPri = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag").as("mode"))
        .agg(
          sum(when(highPri, 1L).otherwise(0L)).as("high_count"),
          sum(when(!highPri, 1L).otherwise(0L)).as("low_count"))
        .orderBy(col("mode"))
    }),

    // Census-driven physical-join selection (operators/AdaptiveJoin —
    // VERDICT r10 #2 made load-bearing): the pre-flight measures both
    // sides (JoinSizeEstimate + exact hot-key census) and picks
    // broadcast / shuffle / salted BEFORE committing the join. The
    // oracle is the PLAIN join — whatever physical form the ladder
    // picks must be result-identical (j10's discipline, now for the
    // whole ladder; AdaptiveJoinSpec pins that planted skew flips the
    // choice to salted).
    "j15_adaptive_join" -> ((s, dir) => {
      val facts = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("orderkey"),
          col("l_quantity"), col("l_extendedprice"))
      val dim = Tables.orders(s, dir)
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      val (joined, _) = graft.operators.AdaptiveJoin.join(facts, dim, "orderkey")
      joined.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,6)")), 4)
            .cast("double").as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // Iterative graph analytics — exact-integer PageRank (operators/
    // PageRank) over the part co-purchase graph (parts sharing an
    // order, both directions, deduped). The iterative-join dataflow no
    // single declarative plan expresses; one exchange per iteration
    // (the groupBy(dst) — PageRank's irreducible communication), the
    // edge list repartitioned+cached once. Integer fixed-point ranks
    // (floor contributions) make the DuckDB oracle replay all three
    // iterations bit-for-bit — no float reduction-order hazard.
    "g1_pagerank" -> ((s, dir) => {
      // identical edge set to the former distinct+self-join, via the
      // 2-exchange per-order pair fan-out (see coPurchasePairs)
      val edges = coPurchasePairs(s, dir, strict = false)
        .select(col("l_partkey").as("src"), col("pk2").as("dst")).distinct()
      val (ranks, _) = graft.operators.PageRank.run(edges, "src", "dst",
        iters = 3, scale = 1000000000000L)
      ranks.select(col("node").as("part_key"), col("rank").as("pr_rank"))
        .orderBy(col("part_key"))
    }),

    // Bounded-round min-label propagation (operators/LabelProp) over
    // the part↔supplier bipartite graph — the second iterative-join
    // dataflow next to g1's rank propagation: after 3 synchronous
    // rounds each node holds the smallest node id within 3 hops (the
    // community-seed / k-hop-reachability primitive). Pure integer
    // min, so the DuckDB oracle unrolls the rounds and matches
    // bit-for-bit; one exchange per round (the groupBy(dst) min), the
    // edge list hash-partitioned and cached once.
    "g3_label_prop" -> ((s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
        .distinct()
      // suppliers offset into their own id space; both directions
      val edges = ps
        .select(col("p").as("src"), (col("sk") + lit(1000000000L)).as("dst"))
        .unionByName(ps.select((col("sk") + lit(1000000000L)).as("src"),
          col("p").as("dst")))
      val (labels, _) = graft.operators.LabelProp.run(edges, "src", "dst", iters = 3)
      labels.orderBy(col("node"))
    }),

    // Fixed-round k-core peeling (operators/KCore) over the weighted
    // co-purchase graph (parts sharing ≥2 orders — the weight filter
    // thins the clique structure so peeling cascades instead of
    // all-or-nothing) — the third iterative-graph dataflow (monotone
    // edge-set shrinking) next to g1's value propagation and g3's
    // label propagation. The threshold adapts to the data: k = ⌊p30 of
    // the initial degree distribution⌋ (a one-row driver probe, the
    // bounded-model exception s5/s7 also use; percentile interpolation
    // on integers is engine-exact — t18). Pure integer counting after
    // that — the oracle unrolls the rounds and matches exactly. At
    // sf0.01 the peel removes nodes in EVERY round (1880 → 1573 →
    // 1538 → 1535); at sf0.1 the thinned graph is degree-1-dominated,
    // p30 = 1, and the peel is a verified no-op — the cascade
    // semantics ride the sf0.001/sf0.01 gates and KCoreSpec's planted
    // graphs.
    "g4_kcore" -> ((s, dir) => {
      // identical weighted edge set to the former distinct+self-join,
      // via the 2-exchange per-order pair fan-out (see coPurchasePairs)
      val edges = coPurchasePairs(s, dir, strict = false)
        .groupBy(col("l_partkey").as("src"), col("pk2").as("dst"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("src"), col("dst"))
        .persist()
      val k = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .agg(floor(percentile(col("deg"), lit(0.3))).cast("long"))
        .first().getLong(0)
      val (core, _) = graft.operators.KCore.peel(
        edges, "src", "dst", k.toInt, rounds = 3)
      // the peel materialized every round eagerly (round caches pinned;
      // the LAST one backs the returned frame and is swept by the
      // harness), so the input edge cache has served all its reads —
      // release it here instead of accumulating one per invocation
      // (ADVICE r11)
      edges.unpersist()
      core.orderBy(col("node"))
    }),

    // Bounded-round multi-source shortest paths (operators/
    // ShortestPaths): synchronous Bellman-Ford from a seeded 10%
    // supplier cohort over the part↔supplier bipartite graph — the
    // fourth propagation dataflow (min-PLUS over a seeded frontier)
    // next to g1's sum, g3's min-label, and g4's shrinking-edge-set
    // peel. 4 rounds → exact shortest hop distance ≤ 4 from the
    // nearest seed; unreached nodes absent. Pure integer min-plus, so
    // the DuckDB oracle unrolls the rounds and matches bit-for-bit;
    // one exchange per round, the edge list hash-partitioned and
    // cached once (both pinned by ShortestPathsSpec).
    "g5_bfs_hops" -> ((s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = ps
        .select(col("p").as("src"), (col("sk") + lit(1000000000L)).as("dst"),
          lit(1L).as("w"))
        .unionByName(ps.select((col("sk") + lit(1000000000L)).as("src"),
          col("p").as("dst"), lit(1L).as("w")))
      val seeds = Tables.supplier(s, dir)
        .filter(col("s_suppkey") % 10 === 1)
        .select((col("s_suppkey") + lit(1000000000L)).as("node"))
      val (dist, _) = graft.operators.ShortestPaths.run(edges, "src", "dst", "w",
        seeds, "node", rounds = 4)
      dist.orderBy(col("node"))
    }),

    // HITS hubs-and-authorities (operators/Hits) over the directed
    // part→supplier bipartite graph — the TWO-SIDED propagation
    // (PageRank pushes one value along out-edges; HITS alternates
    // authority and hub mass across edge directions, Kleinberg's
    // mutual reinforcement). Exact fixed-point integers with
    // quantized-total normalization, so the DuckDB oracle unrolls both
    // rounds bit-for-bit; two aggregate exchanges per round plus two
    // broadcast scalar normalizations, edge list cached once.
    "g6_hits" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("src"),
          (col("l_suppkey") + lit(1000000000L)).as("dst"))
      val (scores, _) = graft.operators.Hits.run(edges, "src", "dst", rounds = 2)
      scores.orderBy(col("node"))
    }),

    // Join-size PRE-FLIGHT (operators/JoinSizeEstimate): estimate
    // |lineitem ⋈ orders| from coordinated bottom-k key samples —
    // one tiny aggregate per side, never the join itself — the guard
    // a 100 TB scheduler runs before committing a shuffle that might
    // explode. `true_pairs` is computed here ONLY to exhibit accuracy
    // in the report (the production pre-flight's whole point is not
    // running it); the estimator lands within ~2/√k of truth and the
    // md5+integer arithmetic replays bit-for-bit in the oracle.
    "q26_join_size_guard" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val est = graft.operators.JoinSizeEstimate.estimate(
        li, "l_orderkey", ord, "o_orderkey", k = 256, heavyThreshold = 1000L)
      val truth = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("true_pairs"))
      est.crossJoin(broadcast(truth))
    }),

    // INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view merge
    // algebra: an already-computed per-customer state (orders before
    // 1997) absorbs a delta (orders from 1997 on) by RE-AGGREGATING
    // THE STATES — counts add, sums add — never by recomputing from
    // raw history. Here both halves are computed so the oracle (a
    // from-scratch aggregate over ALL orders) can PROVE the algebra:
    // state-merge ≡ recompute, exactly, including customers present in
    // only one half. In production the state half is a materialized
    // table, so maintenance cost is |delta| + one state-sized merge
    // exchange — independent of history length. Sums ride decimals so
    // the two-level re-aggregation is associativity-exact.
    "q27_incremental_agg" -> ((s, dir) => {
      val split = lit("1997-01-01").cast("timestamp")
      def half(df: DataFrame) = df
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val orders = Tables.orders(s, dir)
      half(orders.filter(col("o_orderdate") < split))
        .unionByName(half(orders.filter(col("o_orderdate") >= split)))
        .groupBy(col("o_custkey"))
        .agg(sum(col("n")).as("n_orders"),
          sum(col("rev")).cast("double").as("revenue"))
        .orderBy(col("o_custkey"))
    }),

    // DYNAMIC PARTITION PRUNING — the star-schema scan killer at
    // 100 TB: the fact table is laid out hive-partitioned on the dim
    // key (here customer nation), and a dim-side filter the planner
    // can't see statically (region = EUROPE, two joins away from the
    // fact) becomes a RUNTIME partition filter — Catalyst plants a
    // dynamicpruning subquery reusing the dim broadcast, so the fact
    // scan LISTS only the 5 European nation directories and the other
    // 20 partitions are never opened (PlanSpec pins
    // dynamicpruningexpression on the scan). The oracle computes the
    // same report from the raw tables — pruning must be logically
    // invisible.
    "q28_dpp_prune" -> ((s, dir) => {
      val out = SparkHygiene.scratchDir("q28_fact")
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("c_nationkey").as("nation_key"))
        .write.mode("overwrite").partitionBy("nation_key").parquet(out)
      val fact = s.read.parquet(out)
      val dim = Tables.nation(s, dir)
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey"), col("n_name"))
      fact.join(dim, col("nation_key") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,6)")), 4)
            .cast("double").as("revenue"))
        .orderBy(col("n_name"))
    }),

    // INCREMENTAL JOIN-VIEW MAINTENANCE — the delta algebra q27's
    // aggregate merge builds on: for a materialized join view V = A⋈B,
    // the four date-split quadrants (A⁻⋈B⁻, ΔA⋈B⁻, A⁻⋈ΔB, ΔA⋈ΔB)
    // partition the join's pair space exactly, so re-aggregating their
    // partial aggregates ≡ recomputing V from scratch — which is what
    // the oracle does. In production A⁻⋈B⁻ IS the stored view state
    // and only the three delta terms run — |Δ|-proportional work plus
    // one state-sized merge, never a re-scan of history (the only way
    // a 100 TB view stays fresh). Decimal sums make the four-way
    // re-aggregation associativity-exact.
    "q29_incremental_join" -> ((s, dir) => {
      val split = lit("1997-01-01").cast("timestamp")
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_shipdate"))
      val oOld = o.filter(col("o_orderdate") < split)
      val oNew = o.filter(col("o_orderdate") >= split)
      val lOld = l.filter(col("l_shipdate") < split)
      val lNew = l.filter(col("l_shipdate") >= split)
      def quad(a: DataFrame, b: DataFrame): DataFrame =
        a.join(b, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,6)")).as("rev"))
      quad(oOld, lOld).unionByName(quad(oNew, lOld))
        .unionByName(quad(oOld, lNew)).unionByName(quad(oNew, lNew))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n_pairs"),
          round(sum(col("rev")), 4).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // INCREMENTAL DISTINCT-COUNT MAINTENANCE — closing the IVM trio
    // (q27 aggregates, q29 joins, here COUNT DISTINCT — the one
    // aggregate that is NOT naively mergeable: counts of distincts
    // don't add). The mergeable form is the KMV sketch (t19): per-type
    // sketches over the pre-split state and the post-split delta are
    // merged by EXPLODING the two k-arrays and re-sketching — exactly
    // the sorted-merge the Aggregator's merge() performs, expressed in
    // DataFrame algebra, at 2k rows per group. The oracle computes the
    // sketch FROM SCRATCH over all events: merge ≡ recompute, exactly
    // — so a 100 TB deployment maintains distinct-count dashboards by
    // touching |delta| + k longs per group, never re-scanning history.
    "q30_incremental_distinct" -> ((s, dir) => {
      val k = 32
      val split = lit("2024-01-20").cast("timestamp")
      val h = conv(substring(
          md5(concat(lit("kmv:"), col("user_id").cast("string"))), 1, 15), 16, 10)
        .cast("long")
      def sketch(df: DataFrame) = df
        .select(col("event_type"), h.as("__h"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketch(col("__h"), k).as("__mins"))
      val events = Tables.events(s, dir)
      sketch(events.filter(col("ts") < split))
        .unionByName(sketch(events.filter(col("ts") >= split)))
        .select(col("event_type"), explode(col("__mins")).as("__h"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketch(col("__h"), k).as("__mins"))
        .select(
          col("event_type"),
          size(col("__mins")).cast("long").as("n_sketch"),
          when(size(col("__mins")) < k, size(col("__mins")).cast("double"))
            .otherwise(round(
              lit((k - 1).toDouble * 1152921504606846976.0) /
                element_at(col("__mins"), k).cast("double"), 4))
            .as("est_distinct"))
        .orderBy(col("event_type"))
    }),

    // MATERIALIZED-VIEW REWRITE (plans/MvRewrite) — the optimizer
    // itself answers a raw fact aggregate from a registered rollup MV:
    // the query below is written against lineitem, but the planner
    // rewrites it to a RE-AGGREGATION over the (returnflag, linestatus)
    // rollup — query grouping ⊆ MV grouping, count→Σcounts,
    // sum→Σpre-sums (q27's merge algebra applied BY THE PLANNER). At
    // 100 TB this turns the dashboard aggregate from a fact scan into
    // an MV-sized read with zero query-text changes. Materialized
    // eagerly under the registration (then cleared — no rule leak);
    // the oracle proves the rollup algebra equals the from-scratch
    // aggregate, MvRewriteSpec proves the rewrite actually serves the
    // query (perturbed-MV test) and that the fact scan disappears.
    "q33_mv_rewrite" -> ((s, dir) => {
      val mvDir = SparkHygiene.scratchDir("q33_mv")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
        .write.mode("overwrite").parquet(mvDir)
      graft.plans.MvRewrite.register(s, graft.plans.MvRewrite.MvDef(
        factPathSuffix = s"$dir/lineitem.parquet",
        mvPlan = s.read.parquet(mvDir).queryExecution.analyzed,
        groupCols = Set("l_returnflag", "l_linestatus"),
        countCol = "n_rows",
        sumCols = Map("l_quantity" -> "sum_qty")))
      try {
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("qty"))
          .localCheckpoint(true)
          .orderBy(col("l_returnflag"))
      } finally graft.plans.MvRewrite.clear(s)
    }),

    // q33's MV rewrite with a FILTER below the aggregate: the
    // predicate touches only MV grouping columns (linestatus), so it
    // applies identically to the rollup — the planner pushes it onto
    // the MV scan and the fact still never reads. A filter on any
    // NON-grouping column refuses the rewrite (MvRewriteSpec).
    "q34_mv_filter" -> ((s, dir) => {
      val mvDir = SparkHygiene.scratchDir("q34_mv")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
        .write.mode("overwrite").parquet(mvDir)
      graft.plans.MvRewrite.register(s, graft.plans.MvRewrite.MvDef(
        factPathSuffix = s"$dir/lineitem.parquet",
        mvPlan = s.read.parquet(mvDir).queryExecution.analyzed,
        groupCols = Set("l_returnflag", "l_linestatus"),
        countCol = "n_rows",
        sumCols = Map("l_quantity" -> "sum_qty")))
      try {
        Tables.lineitem(s, dir)
          .filter(col("l_linestatus") === "O")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("qty"))
          .localCheckpoint(true)
          .orderBy(col("l_returnflag"))
      } finally graft.plans.MvRewrite.clear(s)
    }),

    // q33's MV rewrite serving AVG (VERDICT r12 #4) — the most common
    // rollup aggregate a real user writes. avg is NOT self-mergeable
    // (an average of per-group averages is wrong whenever group sizes
    // differ), so the MV carries BOTH partial states — pre-sum and
    // per-column non-null count — and the planner re-derives
    // avg = Σpre-sums / Σcounts, exactly Spark's own Average merge
    // algebra. The rounding is applied AFTER the materialized aggregate
    // (an expression wrapping the aggregate would defeat the
    // conservative matcher by design). MvRewriteSpec's perturbed-MV
    // proof covers the avg column: poisoning a pre-sum visibly shifts
    // the served average, and the fact scan is gone from the plan.
    // INCREMENTAL MV MAINTENANCE (operators/IncrementalMv) — the other
    // half of the MV story: q33/q34/q36 SERVE queries from a
    // materialized aggregate; this keeps one CURRENT at delta cost as
    // the base snapshot table commits. v1 bootstraps the base and
    // materializes the per-lang rollup; then an APPEND commit and a
    // key-list GDPR ERASE land on the base, and ONE refresh folds both
    // through the change feed — counts/sums merge by signed addition,
    // the erase-dirtied groups recompute min/max from a semi-join-
    // bounded base read (IncrementalMvSpec pins refresh ≡ recompute
    // across append/delete/update/group-death). The oracle computes
    // the same rollup directly over the final base state — an
    // incrementally-maintained MV must be indistinguishable from
    // recompute.
    "q40_mv_incremental" -> ((s, dir) => {
      val base = SparkHygiene.scratchDir("q40_base")
      val mv = SparkHygiene.scratchDir("q40_mv")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("text_len"))
      graft.sources.Snapshots.commit(s, base,
        docs.filter(col("doc_id") < 300).repartition(4, col("doc_id")))
      val mvSpec = graft.operators.IncrementalMv.MvSpec(
        groupCols = Seq("lang"), sumCols = Seq("text_len"),
        minMaxCols = Seq("text_len"))
      graft.operators.IncrementalMv.initialize(s, base, mv, mvSpec)
      graft.sources.Snapshots.commit(s, base,
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 450))
      graft.operators.DeleteRows.deleteKeys(s, base, "doc_id",
        keys = Seq(5L, 37L, 120L, 301L, 420L))
      graft.operators.IncrementalMv.refresh(s, base, mv, "doc_id", mvSpec)
      graft.sources.Snapshots.read(s, mv).orderBy(col("lang"))
    }),

    // THE MV LOOP CLOSED — q40 maintains, q33/q36 serve; this entry
    // does BOTH against the same state: the per-lang rollup is
    // incrementally refreshed through append + erase commits
    // (IncrementalMv), then registered with MvRewrite under the exact
    // partial-state vocabulary the maintainer writes (n / sum_<c> /
    // cnt_<c> / min_<c> / max_<c>), and the user's aggregate over the
    // BASE TABLE is served from the maintained MV — count, sum, min,
    // max, non-null count, and avg (re-derived as Σsum/Σcnt) all
    // translate (IncrementalMvSpec's perturbed-MV proof pins that the
    // MV, not the fact, answers). The oracle recomputes from the raw
    // final state — maintain + serve must be jointly invisible.
    "q41_mv_serve_incremental" -> ((s, dir) => {
      val base = SparkHygiene.scratchDir("q41_base")
      val mv = SparkHygiene.scratchDir("q41_mv")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("text_len"))
      graft.sources.Snapshots.commit(s, base,
        docs.filter(col("doc_id") < 300).repartition(4, col("doc_id")))
      val mvSpec = graft.operators.IncrementalMv.MvSpec(
        groupCols = Seq("lang"), sumCols = Seq("text_len"),
        minMaxCols = Seq("text_len"))
      graft.operators.IncrementalMv.initialize(s, base, mv, mvSpec)
      graft.sources.Snapshots.commit(s, base,
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 450))
      graft.operators.DeleteRows.deleteKeys(s, base, "doc_id",
        keys = Seq(11L, 99L, 222L, 333L, 444L))
      graft.operators.IncrementalMv.refresh(s, base, mv, "doc_id", mvSpec)
      graft.plans.MvRewrite.register(s, graft.plans.MvRewrite.MvDef(
        factPathSuffix = graft.sources.Snapshots.manifestEntries(base,
          graft.sources.Snapshots.currentVersion(base)).head,
        mvPlan = graft.sources.Snapshots.read(s, mv).queryExecution.analyzed,
        groupCols = Set("lang"), countCol = "n",
        sumCols = Map("text_len" -> "sum_text_len"),
        minCols = Map("text_len" -> "min_text_len"),
        maxCols = Map("text_len" -> "max_text_len"),
        cntCols = Map("text_len" -> "cnt_text_len")))
      val served =
        try graft.sources.Snapshots.read(s, base)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            count(col("text_len")).as("n_len"),
            sum(col("text_len")).as("sum_len"),
            min(col("text_len")).as("min_len"),
            max(col("text_len")).as("max_len"),
            avg(col("text_len").cast("double")).as("avg_raw"))
          .localCheckpoint(true)
        finally graft.plans.MvRewrite.clear(s)
      served.select(col("lang"), col("n"), col("n_len"), col("sum_len"),
          col("min_len"), col("max_len"),
          round(col("avg_raw"), 6).as("avg_len"))
        .orderBy(col("lang"))
    }),

    "q36_mv_avg" -> ((s, dir) => {
      val mvDir = SparkHygiene.scratchDir("q36_mv")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("double")).as("sum_qty"),
          count(col("l_quantity")).as("cnt_qty"))
        .write.mode("overwrite").parquet(mvDir)
      graft.plans.MvRewrite.register(s, graft.plans.MvRewrite.MvDef(
        factPathSuffix = s"$dir/lineitem.parquet",
        mvPlan = s.read.parquet(mvDir).queryExecution.analyzed,
        groupCols = Set("l_returnflag", "l_linestatus"),
        countCol = "n_rows",
        sumCols = Map("l_quantity" -> "sum_qty"),
        cntCols = Map("l_quantity" -> "cnt_qty")))
      val served =
        try Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            count(col("l_quantity")).as("n_qty"),
            avg(col("l_quantity").cast("double")).as("avg_raw"))
          .localCheckpoint(true)
        finally graft.plans.MvRewrite.clear(s)
      served.select(col("l_returnflag"), col("n"), col("n_qty"),
          round(col("avg_raw"), 6).as("avg_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // PK-FK JOIN ELIMINATION (plans/JoinElimination) — the
    // constraint-driven rewrite Spark cannot do on its own (no declared
    // constraints): the query below JOINS lineitem to orders on the
    // orderkey but reads only lineitem columns, and under the
    // registered RI contract (o_orderkey unique, every l_orderkey
    // non-null and present) the optimizer deletes the join — the
    // orders scan and its exchange never run. The generic-view /
    // BI-layer pattern this serves joins "just in case" on every
    // query; at 100 TB the eliminated dim scan is the entire cost
    // delta. The oracle RUNS the genuine join in DuckDB — RI makes
    // elimination logically invisible, and the hash-match proves it.
    // JoinEliminationSpec pins the plan (no join, no orders scan) and
    // every refusal shape (dim column used, dim-side filter,
    // unregistered session).
    "q37_join_elim" -> ((s, dir) => {
      graft.plans.JoinElimination.register(s, graft.plans.JoinElimination.RiDef(
        factPathSuffix = s"$dir/lineitem.parquet",
        dimPathSuffix = s"$dir/orders.parquet",
        factKey = "l_orderkey", dimKey = "o_orderkey"))
      try {
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("qty"))
          .localCheckpoint(true)
          .orderBy(col("l_returnflag"))
      } finally graft.plans.JoinElimination.clear(s)
    }),

    // q37's LEFT-OUTER sibling — elimination that needs only HALF the
    // contract: a left join preserves every fact row regardless of RI
    // presence, so pk UNIQUENESS alone (no duplication) makes the
    // unread dim side droppable. This is the lookup-enrichment view
    // shape ("left join the dims, read what you need") — the single
    // most common generated-SQL pattern a warehouse serves.
    "q38_left_join_elim" -> ((s, dir) => {
      graft.plans.JoinElimination.register(s, graft.plans.JoinElimination.RiDef(
        factPathSuffix = s"$dir/lineitem.parquet",
        dimPathSuffix = s"$dir/orders.parquet",
        factKey = "l_orderkey", dimKey = "o_orderkey"))
      try {
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"), "left_outer")
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)"))
              .cast("double").as("revenue"))
          .localCheckpoint(true)
          .orderBy(col("l_linestatus"))
      } finally graft.plans.JoinElimination.clear(s)
    }),

    // BUCKETED CO-LOCATED JOIN — the write-once-shuffle-never layout
    // a 100 TB fact⋈fact plan leans on: both tables bucketed AND
    // sorted by the join key at write time (one file per bucket), so
    // the join runs as a sort-merge with ZERO exchanges — the shuffle
    // was paid once at ingest and amortizes over every subsequent join
    // on that key (BucketedJoinSpec pins the exchange-free plan
    // including local-only sorts). The aggregate after the join pays
    // its own one exchange, as it must — the exhibit is the join.
    // Materialized eagerly so the scratch tables can be dropped before
    // returning; broadcast disabled during the build (a broadcast
    // would bypass the bucketing) and restored after.
    "j18_bucketed_join" -> ((s, dir) => {
      SparkHygiene.withConf(s, Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
        val pa = SparkHygiene.scratchDir("j18_orders")
        val pb = SparkHygiene.scratchDir("j18_lineitem")
        s.sql("DROP TABLE IF EXISTS graft_j18_orders")
        s.sql("DROP TABLE IF EXISTS graft_j18_lineitem")
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
          .repartition(8, col("o_orderkey"))
          .write.format("parquet").bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").option("path", pa)
          .mode("overwrite").saveAsTable("graft_j18_orders")
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"))
          .repartition(8, col("l_orderkey"))
          .write.format("parquet").bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").option("path", pb)
          .mode("overwrite").saveAsTable("graft_j18_lineitem")
        val res = s.table("graft_j18_orders")
          .join(s.table("graft_j18_lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("qty"))
          .localCheckpoint(true)
        s.sql("DROP TABLE graft_j18_orders")
        s.sql("DROP TABLE graft_j18_lineitem")
        res.orderBy(col("o_orderpriority"))
      }
    }),

    // STORAGE-PARTITIONED JOIN (SPARK-37377) — j18's property carried
    // onto the LAKEHOUSE tables: both snapshot tables are
    // OPTIMIZE CLUSTER BY BUCKETS on their join keys
    // (operators/Optimize.clusterByBuckets), read through the V2
    // catalog (sources/v2/SnapshotCatalog) whose FunctionCatalog face
    // serves the bucket function, and the scan-reported
    // KeyGroupedPartitioning lets the join plan with ZERO shuffle AND
    // zero broadcast — each task reads bucket i of both tables and
    // joins locally (SnapshotCatalogSpec pins the empty exchange
    // census; a post-clustering append demotes to a shuffling join
    // rather than lying). At 100 TB this turns every fact-fact join on
    // the bucketed key into a metadata handshake. The oracle is the
    // plain join — layout must be logically invisible.
    "j23_spj" -> ((s, dir) => {
      // the result is materialized, so the snapshot reads' id-mapping
      // keys (set by Snapshots.idMappedRead) are scoped here too
      SparkHygiene.withConf(s, Seq(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.catalog.graft_spj" -> classOf[graft.sources.v2.SnapshotCatalog].getName,
          "spark.sql.parquet.fieldId.read.enabled" -> "true",
          "spark.sql.parquet.fieldId.read.ignoreMissing" -> "true")) {
        val ta = SparkHygiene.scratchDir("j23_orders")
        val tb = SparkHygiene.scratchDir("j23_lineitem")
        graft.sources.Snapshots.commit(s, ta,
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")))
        graft.operators.Optimize.clusterByBuckets(s, ta, "o_orderkey", 8)
        graft.sources.Snapshots.commit(s, tb,
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity")))
        graft.operators.Optimize.clusterByBuckets(s, tb, "l_orderkey", 8)
        val res = s.table(s"graft_spj.snap.`$ta`")
          .join(s.table(s"graft_spj.snap.`$tb`"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("qty"))
          .localCheckpoint(true)
        res.orderBy(col("o_orderpriority"))
      }
    }),

    // RUNTIME BLOOM-FILTER JOIN — the row-level sibling of q28's
    // dynamic partition pruning: a selective dim-side filter (urgent
    // orders) becomes a bloom filter BUILT AT RUNTIME and pushed into
    // the fact scan as might_contain(l_orderkey), so non-matching fact
    // rows die at the scan instead of crossing the shuffle — on a
    // 100 TB unpartitioned fact this is the difference between
    // shuffling the table and shuffling the match. Injection needs the
    // shuffle-join regime (thresholds flipped for the exhibit; at real
    // scale they hold naturally), so the result is MATERIALIZED under
    // those confs via an eager localCheckpoint and the session is
    // restored before returning — no conf leak into later queries.
    // The filter is semantics-free: the oracle is the plain join.
    // PlanSpec pins the might_contain injection on the fact scan.
    "q31_runtime_filter" -> ((s, dir) => {
      SparkHygiene.withConf(s, BloomRegime) {
        val urgent = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        Tables.lineitem(s, dir)
          .join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("qty"))
          .localCheckpoint(true)
          .orderBy(col("l_returnflag"))
      }
    }),

    // OPTIMIZER-RULE COMPOSITION (VERDICT r11 #7) — the three runtime
    // scan-reduction mechanisms in ONE query plan, the interaction
    // surface where conservative-rule bugs hide: a rollup arm whose
    // bare fact aggregate the MV REWRITE must serve, a detail arm over
    // a hive-partitioned fact whose dim filter DPP must turn into a
    // runtime partition filter, and a bloom arm whose shuffle join
    // (merge-hinted — at 100 TB the orders side genuinely wouldn't
    // broadcast) must get a runtime might_contain filter on its fact
    // scan. The MV rule must fire on arm 1 ONLY — arms 2/3 aggregate
    // over JOINS, which its conservative decompose refuses — and must
    // not disturb the other two injections, which run in later
    // optimizer phases over the partially-rewritten plan. PlanSpec
    // pins all three plan artifacts in the one executed plan; the
    // oracle recomputes all three arms from raw tables — every
    // mechanism must be logically invisible.
    "q35_rule_compose" -> ((s, dir) => {
      // detail fact, q28's partitioned layout
      val factDir = SparkHygiene.scratchDir("q35_fact")
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("c_nationkey").as("nation_key"))
        .write.mode("overwrite").partitionBy("nation_key").parquet(factDir)
      // rollup MV, q33's definition
      val mvDir = SparkHygiene.scratchDir("q35_mv")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
        .write.mode("overwrite").parquet(mvDir)
      graft.plans.MvRewrite.register(s, graft.plans.MvRewrite.MvDef(
        factPathSuffix = s"$dir/lineitem.parquet",
        mvPlan = s.read.parquet(mvDir).queryExecution.analyzed,
        groupCols = Set("l_returnflag", "l_linestatus"),
        countCol = "n_rows",
        sumCols = Map("l_quantity" -> "sum_qty")))
      // q31's shuffle-join regime; the detail arm keeps its DPP via the
      // explicit broadcast(dim) hint, which overrides the threshold
      try SparkHygiene.withConf(s, BloomRegime) {
        // arm 1: bare fact rollup — MV-served
        val rollup = Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("val"))
          .select(lit("rollup").as("arm"), col("l_returnflag").as("key"),
            col("n"), col("val"))
        // arm 2: partitioned-fact star join — DPP-pruned scan
        val dim = Tables.nation(s, dir)
          .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "EUROPE")
          .select(col("n_nationkey"), col("n_name"))
        val detail = s.read.parquet(factDir)
          .join(broadcast(dim), col("nation_key") === col("n_nationkey"))
          .groupBy(col("n_name").as("key"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(18,6)")), 4)
              .cast("double").as("val"))
          .select(lit("detail").as("arm"), col("key"), col("n"), col("val"))
        // arm 3: selective shuffle join — runtime bloom on the fact scan
        val urgent = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val bloom = Tables.lineitem(s, dir)
          .join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag").as("key"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("val"))
          .select(lit("urgent").as("arm"), col("key"), col("n"), col("val"))
        rollup.unionByName(detail).unionByName(bloom)
          .localCheckpoint(true)
          .orderBy(col("arm"), col("key"))
      } finally graft.plans.MvRewrite.clear(s)
    }),

    // Correlated SCALAR subquery in the SELECT list — the fourth
    // decorrelation path (EXISTS→semi, NOT IN→null-aware anti,
    // LATERAL→domain join are the other three): Catalyst rewrites the
    // per-customer count and max into ONE aggregate over orders joined
    // LEFT OUTER back to customer (empty correlation = 0 / NULL, the
    // outer-aware semantics), never a per-row execution. The everyday
    // "enrich the dim with child stats inline" report.
    "q24_scalar_subquery" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("__g_customer_s")
      Tables.orders(s, dir).createOrReplaceTempView("__g_orders_s")
      s.sql(
        """SELECT c_custkey,
          |  (SELECT count(*) FROM __g_orders_s
          |   WHERE o_custkey = c_custkey) AS n_orders,
          |  (SELECT max(o_totalprice) FROM __g_orders_s
          |   WHERE o_custkey = c_custkey) AS max_price
          |FROM __g_customer_s
          |ORDER BY c_custkey""".stripMargin)
    }),

    // LATERAL correlated subquery — the "per-row top-1 from another
    // table" SQL surface (argmax written the way analysts write it).
    // Catalyst DECORRELATES the per-order ORDER BY ... LIMIT 1 into a
    // window/aggregate over the join — one plan over all orders, never
    // a per-row subquery execution. Same answer shape as j7's as-of
    // machinery, exercised here through the SQL planner feature
    // (DomainJoin decorrelation) instead of the operator library.
    "j14_lateral_top1" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("__g_orders_l")
      Tables.lineitem(s, dir).createOrReplaceTempView("__g_lineitem_l")
      s.sql(
        """SELECT o_orderkey, t.l_linenumber, t.l_extendedprice
          |FROM __g_orders_l,
          |LATERAL (SELECT l_linenumber, l_extendedprice FROM __g_lineitem_l
          |         WHERE l_orderkey = o_orderkey
          |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 1) t
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // MERGE INTO — the lakehouse upsert statement (update matched,
    // delete flagged, insert unmatched) via operators/MergeInto: the
    // copy-on-write plan where the huge target is only ever the STREAM
    // side of broadcast joins against the small delta — scanned, never
    // shuffled (see MergeInto.scala for the three-branch dataflow).
    // The only exchange in the statement is the presentation sort.
    "j16_merge_upsert" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      // an "older snapshot" (some keys absent → insert targets) and a
      // deterministic change feed with an op column, both key-derived
      val target = orders.filter(col("o_orderkey") % 5 =!= 4)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"))
      val delta = orders.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey").as("d_custkey"),
          when(col("o_orderkey") % 21 === 0, lit("D")).otherwise(lit("U")).as("op"),
          (col("o_orderkey") % 100000).cast("double").as("new_price"))
      graft.operators.MergeInto(
          target, delta, key = "o_orderkey",
          deleteWhen = col("op") === "D",
          updateCols = Seq(
            "o_orderkey" -> col("o_orderkey"),
            "o_custkey" -> col("o_custkey"),
            "price" -> col("new_price")),
          insertCols = Seq(
            "o_orderkey" -> col("o_orderkey"),
            "o_custkey" -> col("d_custkey"),
            "price" -> col("new_price")),
          tag = Some("action"))
        .orderBy(col("o_orderkey"))
    }),

    // SCD TYPE-2 dimension build via operators/Scd2: event stream →
    // validity intervals (valid_from / valid_to / is_current), the
    // warehouse history table. lag() duplicate-collapse then lead()
    // close, both windows over ONE user_id exchange (see Scd2.scala).
    "j17_scd2" -> ((s, dir) =>
      graft.operators.Scd2.intervals(Tables.events(s, dir),
          key = "user_id", state = "event_type", ts = "ts",
          tieBreak = "event_id")
        .orderBy(col("user_id"), col("valid_from"))),

    // TEMPORAL DIMENSION ENRICHMENT — the event-time-correct dimension
    // join a warehouse needs once dimensions have history: each
    // purchase is served the SCD2 version (j17's build) that was
    // CURRENT at the purchase's own timestamp — not today's row, the
    // classic "joined the dimension at query time" bug. Version
    // containment over half-open intervals ≡ backward as-of against
    // version starts (versions partition each key's timeline), so the
    // plan is TemporalJoins' one-shuffle union+running-last — never a
    // range join. The version id / as-of tie-break is the opening
    // change row's UNIQUE event_id (ADVICE r11: a timestamp-derived id
    // goes nondeterministic the moment two versions of a key share a
    // valid_from); the oracle replays the as-of with a LATERAL top-1
    // over the same (valid_from, event_id) order.
    "j19_temporal_dim" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val versions = graft.operators.Scd2.intervals(ev,
          key = "user_id", state = "event_type", ts = "ts",
          tieBreak = "event_id", carryTieBreak = true)
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from").as("ts"),
          col("event_id").as("vid"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      graft.operators.TemporalJoins.asofBackward(purchases, versions,
          keyCol = "user_id", tsCol = "ts",
          leftIdCol = "purchase_id", rightIdCol = "vid",
          payloadCols = Seq("state", "vid"))
        .select(col("purchase_id"), col("user_id"),
          col("asof_state").as("state_at_purchase"),
          col("asof_vid").as("version_id"))
        .orderBy(col("purchase_id"))
    }),

    // Referential-integrity audit (the dbt "relationship test" shape):
    // both directions of each FK edge in ONE report — parent-less
    // children (true violations; 0 on consistent data, and the gate
    // must PROVE the zero) and childless parents (coverage holes —
    // non-vacuous: 257 orders carry no lineitem at sf0.01). Each count
    // is an anti-join aggregate; the four audits run as independent
    // branches unioned at the end, so nothing serializes. At scale
    // each anti join is one key shuffle per side (or a broadcast under
    // AQE when a side collapses).
    "q23_ri_audit" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).select(col("c_custkey"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
      def audit(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(name).as("relation"),
          col("n").cast("long").as("n_rows"))
      audit("orders_without_customer",
          ord.join(cust, col("o_custkey") === col("c_custkey"), "left_anti"))
        .unionByName(audit("lineitems_without_order",
          li.join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")))
        .unionByName(audit("orders_without_lineitems",
          ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")))
        .unionByName(audit("customers_without_orders",
          cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")))
        .orderBy(col("relation"))
    }),

    // Triangle enumeration — the CYCLIC self-join no tree-shaped query
    // exercises: e(a,b) ⋈ e(b,c) ⋈ e(a,c) with a global vertex order
    // (a < b < c) so each triangle materializes exactly once, as two
    // hash joins (wedge build, then the closing-edge probe). Run on
    // the REPEATED co-purchase graph (parts sharing ≥ 2 orders — the
    // support threshold that makes co-occurrence signal, and bounds
    // wedge count: the unthresholded graph has 300 M wedges at sf0.1,
    // the thresholded one ~10 K). At scale the orientation lever is
    // degree ordering (orient edges low→high degree) — same plan, the
    // wedge build keyed on low-degree vertices so a hot vertex can't
    // quadratically explode; the vertex-id order used here is the
    // id-keyed special case.
    "g2_triangles" -> ((s, dir) => {
      // identical weighted edge set to the former distinct+self-join,
      // via the 2-exchange per-order pair fan-out (see coPurchasePairs)
      val e = coPurchasePairs(s, dir, strict = true)
        .groupBy(col("l_partkey").as("s"), col("pk2").as("t"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("s"), col("t"))
      val e1 = e.select(col("s").as("a"), col("t").as("b"))
      val e2 = e.select(col("s").as("b2"), col("t").as("c"))
      val e3 = e.select(col("s").as("a3"), col("t").as("c3"))
      e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
        .orderBy(col("a"), col("b"), col("c"))
    }),

    // TPC-H Q6-shaped forecasting filter-aggregate: NO join at all —
    // the whole query is a conjunctive range filter + one global sum,
    // so its entire cost is the scan, and the plan's worth is measured
    // by what reaches the parquet reader: all three predicates land in
    // PushedFilters (row-group min/max pruning + vectorized-batch
    // filtering), ReadSchema carries only the four referenced columns,
    // and the single exchange moves one partial-sum row per task.
    "q6_forecast_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            col("l_discount").cast("decimal(18,6)")), 4)
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))),

    // TPC-H Q10-shaped returned-item report: AGGREGATE-THEN-DIM-JOIN —
    // revenue per customer KEY first (one custkey exchange of partial
    // sums), THEN the customer attributes and the broadcast nation dim
    // join the small aggregate, then top-20. Grouping by the wide
    // attribute tuple (the literal TPC-H text) would drag name/acctbal
    // through the fact shuffle as dead weight; keying the aggregate on
    // the 8-byte key and decorating afterwards is the habit that
    // matters at 100 TB.
    "q10_returned_customers" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-04-01").cast("timestamp")
      val rev = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
            .filter(col("l_returnflag") === "R")
            .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 4)
          .cast("double").as("revenue"))
      rev.join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q7-shaped volume shipping: the cross-nation PAIR filter —
    // a DISJUNCTION over attributes of two different broadcast dims
    // ((supp=N1 ∧ cust=N2) ∨ (supp=N2 ∧ cust=N1)) that can only be
    // evaluated after both arms are attached, unlike q19's residual
    // which rides the join itself. Each nation arm prefilters ITS dim
    // scan to the two nations (pushdown), the pair disjunction then
    // runs as a cheap post-join filter, and the report groups by the
    // (supp_nation, cust_nation, year) tuple — a two-dim × time
    // roll-up off one fact pass.
    "q7_volume_shipping" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val nations = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_3", "NATION_8"))
      val supp = Tables.supplier(s, dir)
        .join(broadcast(nations.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(nations.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"), col("cust_nation"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .join(cust, col("o_custkey") === col("c_custkey"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_8") ||
          (col("supp_nation") === "NATION_8" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 4)
          .cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q20-shaped dominant-supplier screen: the SAME fact sum
    // needed at TWO granularities — per-(part,supplier) quantity vs
    // the part's total and supplier count. "Dominant" = the supplier's
    // share exceeds 2× the average share among that part's suppliers
    // (qty_ps·n_supp > 2·qty_p) — MEAN-RELATIVE like q11's threshold,
    // because any fixed fraction empties as per-part supplier count
    // grows with scale; the compare is an exact integer cross-multiply
    // (quantities integer-valued by data contract; no division, no
    // rounding convention). The coarse totals come from an UNBOUNDED
    // WINDOW over the pair aggregate, not a join of two aggregates:
    // after the (part,supplier) aggregate's one fact exchange, the
    // window repartitions only the PAIR rows onto the part key and the
    // naive plan's aggregate-self-join (with its extra exchange AND
    // join) disappears — three exchanges total, each on aggregated
    // rows, fact scanned once.
    "q20_dominant_suppliers" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_partkey"))
      Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty_ps"))
        .withColumn("qty_p", sum(col("qty_ps")).over(w))
        .withColumn("n_supp", count(lit(1)).over(w))
        .filter(col("qty_ps") * col("n_supp") > col("qty_p") * 2)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_dominant"),
          sum(col("qty_ps")).as("qty_total"))
        .join(broadcast(Tables.supplier(s, dir)
            .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("n_dominant"), col("qty_total"))
        .orderBy(col("s_suppkey"))
    }),

    // AS-OF JOIN through the custom physical operator
    // ([[graft.plans.AsOfJoinExec]]): each purchase picks up the user's
    // latest prior "view" event — marker condition → optimizer rule →
    // logical node → sorted-merge exec, ONE hash exchange + sort per
    // side, O(1) merge state (vs the window composition j19 uses, which
    // rides every left row through the running-last machinery). The
    // right side is deduped to one row per (user, ts) — max event_id —
    // because DuckDB's ASOF picks arbitrarily among equal timestamps;
    // the exec's own tie-break is oracle-exercised by j21 instead.
    "j20_asof_exec" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id"), col("ts"))
            .orderBy(col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      graft.plans.AsOf.backward(purchases, views,
          purchases("user_id"), views("v_user"),
          purchases("ts"), views("v_ts"), views("view_id"))
        .select(col("purchase_id"), col("user_id"),
          col("view_id"), col("view_value"))
        .orderBy(col("purchase_id"))
    }),

    // The same operator under a match-window TOLERANCE (nearest view
    // within 2 h, else null) and WITHOUT the right-side dedup — this is
    // the query that oracle-exercises the exec's deterministic
    // greatest-tie-break-at-equal-time rule, because the LATERAL oracle
    // orders by (ts DESC, event_id DESC) explicitly. Tolerance compares
    // in the timestamp's internal microseconds; testdata timestamps are
    // µs-aligned so the DuckDB INTERVAL arithmetic is exact.
    "j21_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      graft.plans.AsOf.backward(purchases, views,
          purchases("user_id"), views("v_user"),
          purchases("ts"), views("v_ts"), views("view_id"),
          toleranceMicros = 2L * 3600L * 1000000L)
        .select(col("purchase_id"), col("user_id"),
          col("view_id"), col("view_value"))
        .orderBy(col("purchase_id"))
    }),

    // The FORWARD direction of the physical as-of operator — the
    // time-to-conversion shape: each view attaches the user's NEXT
    // purchase at or after it. Same plan as j20 with the right side's
    // tie order flipped (first-at-or-after, greatest event_id at equal
    // timestamps, cursor never consumed so consecutive views share the
    // same next purchase); the LATERAL oracle replays the
    // (ts ASC, event_id DESC) top-1 explicitly.
    "j22_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      graft.plans.AsOf.forward(views, purchases,
          views("user_id"), purchases("p_user"),
          views("ts"), purchases("p_ts"), purchases("purchase_id"))
        .select(col("view_id"), col("user_id"),
          col("purchase_id"), col("purchase_value"))
        .orderBy(col("view_id"))
    }),

    // FOOTER-SERVED AGGREGATES through the V2 connector
    // (SupportsPushDownAggregates): a global count/min/max/count(col)
    // over a snapshot table is answered from parquet FOOTER statistics
    // — the scan ships ONE precomputed row and reads ZERO data pages
    // (scan description says FOOTER-AGG; SnapshotsV2Spec pins it, plus
    // the decline paths: any filter, group-by, distinct, or a file
    // with unusable stats falls back to the row-level scan with the
    // same answers). At 100 TB this is `count(*)` priced at a manifest
    // sweep. The oracle replays the aggregates on the raw table.
    "q39_footer_agg" -> ((s, dir) => {
      val t = SparkHygiene.scratchDir("q39_tbl")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("props"))
      graft.sources.Snapshots.commit(s, t,
        ev.filter(pmod(col("event_id"), lit(2)) === 0).repartition(4))
      graft.sources.Snapshots.commit(s, t,
        ev.filter(pmod(col("event_id"), lit(2)) === 1))
      s.read.format("graft_snapshots").option("path", t).load()
        .agg(count(lit(1)).as("n_rows"),
          min(col("event_id")).as("lo_event"),
          max(col("event_id")).as("hi_event"),
          min(col("user_id")).as("lo_user"),
          max(col("user_id")).as("hi_user"),
          count(col("props")).as("n_props"))
    }))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ TextQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries ++ EventQueries.queries ++ NewsQueries.queries ++
      MediaQueries.queries ++ TrainingQueries.queries

  private val baseOracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "j3_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "j4_anti_join" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "j10_salted_join" ->
      """SELECT l_orderkey, l_partkey AS partkey, l_quantity, p_brand
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity >= 49
        |ORDER BY l_orderkey, partkey""".stripMargin,
    "p2_clean_text" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT -1, 'José «café» — &quot;ok&quot; 12:30')
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '&quot;', '"', 'g'),
        |                 '[^:a-zA-Z0-9\s"''-]', '', 'g') AS cleaned
        |FROM src ORDER BY doc_id""".stripMargin,
    "a11_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS lvl,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY lvl, l_returnflag, l_linestatus""".stripMargin,
    "a15_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS lvl,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY lvl, l_returnflag, l_linestatus""".stripMargin,
    "q16_notin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q3_topk_join" ->
      """SELECT l_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE) > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin,
    "q4_late_orders" ->
      """SELECT o_orderstatus, count(*) AS n_late
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q17_small_orders" ->
      """WITH agg AS (
        |  SELECT l_partkey AS pk, sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |         count(*) AS n_li
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand, count(*) AS n_small,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 4) AS DOUBLE)
        |    AS lost_revenue
        |FROM lineitem
        |  JOIN agg ON l_partkey = pk
        |  JOIN part ON p_partkey = l_partkey
        |WHERE CAST(l_quantity AS BIGINT) * n_li * 5 < sum_qty
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q13_cust_dist" ->
      """SELECT c_count, count(*) AS n_cust FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus = 'O'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY n_cust DESC, c_count DESC""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH minp AS (
        |  SELECT l_partkey AS pk, min(l_extendedprice) AS min_price
        |  FROM lineitem GROUP BY l_partkey),
        |arg AS (
        |  SELECT l_partkey, min_price, min(l_suppkey) AS best_suppkey
        |  FROM lineitem JOIN minp
        |    ON l_partkey = pk AND l_extendedprice = min_price
        |  GROUP BY l_partkey, min_price)
        |SELECT p_partkey, p_brand, min_price, best_suppkey, s_name
        |FROM arg JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = best_suppkey
        |ORDER BY p_partkey LIMIT 200""".stripMargin,
    "q19_disjunctive" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey AND (
        |     (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
        |        AND p_size BETWEEN 1 AND 15)
        |  OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
        |        AND p_size BETWEEN 1 AND 25)
        |  OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30
        |        AND p_size BETWEEN 1 AND 35))
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q14_promo_share" ->
      """SELECT
        |  CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,6)) *
        |         (1 - CAST(l_discount AS DECIMAL(18,6)))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END), 4) AS DOUBLE) AS promo_revenue,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE) AS total_revenue,
        |  round(100.0 * (
        |    CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,6)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,6)))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END), 4) AS DOUBLE) /
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE)), 6)
        |    AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-06-01'
        |  AND l_shipdate < TIMESTAMP '1996-07-01'""".stripMargin,
    "q11_value_parts" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 4) AS DOUBLE)
        |      AS part_value
        |  FROM lineitem GROUP BY l_partkey),
        |tot AS (
        |  SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 4) AS DOUBLE)
        |      AS t,
        |    CAST(count(DISTINCT l_partkey) AS DOUBLE) AS n
        |  FROM lineitem)
        |SELECT l_partkey, part_value, round(part_value / t, 6) AS share
        |FROM pp, tot
        |WHERE part_value > 1.5 * (t / n)
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE) AS revenue
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q15_top_supplier" ->
      """WITH ps AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM ps JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM ps)
        |ORDER BY s_suppkey""".stripMargin,
    "q22_idle_customers" ->
      """WITH avgbal AS (
        |  SELECT round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS a
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, count(*) AS n_cust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 4) AS DOUBLE)
        |    AS total_bal
        |FROM customer, avgbal
        |WHERE c_acctbal > a
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderstatus = 'O')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  CAST(round(sum(CASE WHEN sn.n_name = 'NATION_6'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,6)) *
        |         (1 - CAST(l_discount AS DECIMAL(18,6)))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END), 4) AS DOUBLE) AS nation_revenue,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE)
        |    AS market_revenue,
        |  round(
        |    CAST(round(sum(CASE WHEN sn.n_name = 'NATION_6'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,6)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,6)))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END), 4) AS DOUBLE) /
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE), 6)
        |    AS mkt_share
        |FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |WHERE r_name = 'AMERICA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,
    "q9_profit_rollup" ->
      // decimal staging mirrors the Spark side exactly: each product is
      // cast back to DECIMAL(18,6) (lossless for these value shapes), so
      // the sum is engine-order-independent and the final round(…,4)
      // compares identical doubles
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(round(sum(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |         (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
        |      AS DECIMAL(18,6)) -
        |    CAST(CAST(CAST(p_retailprice AS DECIMAL(18,6)) *
        |              CAST(l_quantity AS DECIMAL(18,6)) AS DECIMAL(18,6)) *
        |         CAST(0.1 AS DECIMAL(18,6)) AS DECIMAL(18,6))
        |  ), 4) AS DOUBLE) AS profit
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year""".stripMargin,
    "q12_shipmode" ->
      """SELECT l_returnflag AS mode,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag
        |ORDER BY mode""".stripMargin,
    "j15_adaptive_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "g1_pagerank" ->
      // The oracle mirrors the operator's node-set semantics exactly
      // (ADVICE r10 #3): ranks live on src UNION dst, and each
      // iteration LEFT JOINs contributions so a node with no in-edges
      // keeps the teleport base instead of vanishing — seeding from
      // DISTINCT src and inner-joining only agreed on this edge list
      // because the co-purchase graph happens to be symmetric; this
      // form is correct for any directed graph (dangling/src-only
      // nodes included).
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
        |r1 AS (SELECT n.node,
        |         150000000000 + coalesce(
        |           sum((r0.rank * 85) // (100 * ed.outdeg)), 0) AS rank
        |       FROM nodes n
        |       LEFT JOIN ed ON ed.dst = n.node
        |       LEFT JOIN r0 ON r0.node = ed.src
        |       GROUP BY n.node),
        |r2 AS (SELECT n.node,
        |         150000000000 + coalesce(
        |           sum((r1.rank * 85) // (100 * ed.outdeg)), 0) AS rank
        |       FROM nodes n
        |       LEFT JOIN ed ON ed.dst = n.node
        |       LEFT JOIN r1 ON r1.node = ed.src
        |       GROUP BY n.node),
        |r3 AS (SELECT n.node,
        |         150000000000 + coalesce(
        |           sum((r2.rank * 85) // (100 * ed.outdeg)), 0) AS rank
        |       FROM nodes n
        |       LEFT JOIN ed ON ed.dst = n.node
        |       LEFT JOIN r2 ON r2.node = ed.src
        |       GROUP BY n.node)
        |SELECT node AS part_key, CAST(rank AS BIGINT) AS pr_rank
        |FROM r3 ORDER BY part_key""".stripMargin,
    "g3_label_prop" ->
      // one CTE per synchronous round: min over (in-neighbor labels ∪
      // own label) — the self-row keeps no-in-edge nodes alive, same
      // as the operator's self-contribution union
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        |e AS (SELECT p AS src, sk + 1000000000 AS dst FROM ps
        |      UNION ALL SELECT sk + 1000000000, p FROM ps),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |l0 AS (SELECT node, node AS label FROM nodes),
        |l1 AS (SELECT dst AS node, min(label) AS label FROM (
        |         SELECT e.dst, l0.label FROM e JOIN l0 ON l0.node = e.src
        |         UNION ALL SELECT node, label FROM l0) GROUP BY dst),
        |l2 AS (SELECT dst AS node, min(label) AS label FROM (
        |         SELECT e.dst, l1.label FROM e JOIN l1 ON l1.node = e.src
        |         UNION ALL SELECT node, label FROM l1) GROUP BY dst),
        |l3 AS (SELECT dst AS node, min(label) AS label FROM (
        |         SELECT e.dst, l2.label FROM e JOIN l2 ON l2.node = e.src
        |         UNION ALL SELECT node, label FROM l2) GROUP BY dst)
        |SELECT node, label FROM l3 ORDER BY node""".stripMargin,
    "g4_kcore" ->
      // one (degree, keep, restrict) CTE triple per peel round; k from
      // the p30 of the initial degrees; the final round reports degree
      // over the last surviving edge set
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |         AND a.l_partkey <> b.l_partkey
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |d1 AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
        |kv AS (SELECT CAST(floor(quantile_cont(deg, 0.3)) AS BIGINT) AS k FROM d1),
        |k1 AS (SELECT src FROM d1, kv WHERE deg >= k),
        |e1 AS (SELECT e.src, e.dst FROM e0 e
        |       WHERE e.src IN (SELECT src FROM k1)
        |         AND e.dst IN (SELECT src FROM k1)),
        |d2 AS (SELECT src, count(*) AS deg FROM e1 GROUP BY src),
        |k2 AS (SELECT src FROM d2, kv WHERE deg >= k),
        |e2 AS (SELECT e.src, e.dst FROM e1 e
        |       WHERE e.src IN (SELECT src FROM k2)
        |         AND e.dst IN (SELECT src FROM k2)),
        |d3 AS (SELECT src, count(*) AS deg FROM e2 GROUP BY src)
        |SELECT src AS node, deg FROM d3, kv WHERE deg >= k
        |ORDER BY node""".stripMargin,
    "g5_bfs_hops" ->
      // one CTE per Bellman-Ford round: min over (own distance ∪
      // in-neighbor distance + weight) — the self-row mirrors the
      // operator's weight-0 self-loop; seeds are the 10% supplier
      // cohort at distance 0
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        |e AS (SELECT p AS src, sk + 1000000000 AS dst, 1 AS w FROM ps
        |      UNION ALL SELECT sk + 1000000000, p, 1 FROM ps),
        |d0 AS (SELECT DISTINCT s_suppkey + 1000000000 AS node,
        |         CAST(0 AS BIGINT) AS dist
        |       FROM supplier WHERE s_suppkey % 10 = 1),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT e.dst AS node, d0.dist + e.w AS dist
        |         FROM e JOIN d0 ON d0.node = e.src
        |         UNION ALL SELECT node, dist FROM d0) GROUP BY node),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT e.dst AS node, d1.dist + e.w AS dist
        |         FROM e JOIN d1 ON d1.node = e.src
        |         UNION ALL SELECT node, dist FROM d1) GROUP BY node),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT e.dst AS node, d2.dist + e.w AS dist
        |         FROM e JOIN d2 ON d2.node = e.src
        |         UNION ALL SELECT node, dist FROM d2) GROUP BY node),
        |d4 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT e.dst AS node, d3.dist + e.w AS dist
        |         FROM e JOIN d3 ON d3.node = e.src
        |         UNION ALL SELECT node, dist FROM d3) GROUP BY node)
        |SELECT node, dist FROM d4 ORDER BY node""".stripMargin,
    "g6_hits" -> {
      // one (raw-sum, total, quantized-normalize, keep-alive) quartet
      // per side per round — the operator's exact integer arithmetic,
      // CASTs pinning every sum to BIGINT (HUGEINT would fail the
      // type-parity gate)
      def round(i: Int, prevHub: String) =
        s"""a${i}r AS (SELECT s AS node, CAST(sum(ph.hub) AS BIGINT) AS auth
           |        FROM ps JOIN $prevHub ph ON ph.node = ps.p GROUP BY s),
           |a${i}t AS (SELECT CAST(sum(auth) AS BIGINT) AS tot FROM a${i}r),
           |a${i}n AS (SELECT node, auth // greatest(tot // 1000000000, 1) AS auth
           |        FROM a${i}r, a${i}t),
           |a$i AS (SELECT n.node, CAST(coalesce(x.auth, 0) AS BIGINT) AS auth
           |        FROM nodes n LEFT JOIN a${i}n x USING (node)),
           |h${i}r AS (SELECT p AS node, CAST(sum(pa.auth) AS BIGINT) AS hub
           |        FROM ps JOIN a$i pa ON pa.node = ps.s GROUP BY p),
           |h${i}t AS (SELECT CAST(sum(hub) AS BIGINT) AS tot FROM h${i}r),
           |h${i}n AS (SELECT node, hub // greatest(tot // 1000000000, 1) AS hub
           |        FROM h${i}r, h${i}t),
           |h$i AS (SELECT n.node, CAST(coalesce(x.hub, 0) AS BIGINT) AS hub
           |        FROM nodes n LEFT JOIN h${i}n x USING (node))""".stripMargin
      s"""WITH ps AS (SELECT DISTINCT l_partkey AS p,
         |              l_suppkey + 1000000000 AS s FROM lineitem),
         |nodes AS (SELECT p AS node FROM ps UNION SELECT s FROM ps),
         |h0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS hub FROM nodes),
         |${round(1, "h0")},
         |${round(2, "h1")}
         |SELECT node, hub, auth FROM h2 JOIN a2 USING (node)
         |ORDER BY node""".stripMargin
    },
    "q26_join_size_guard" -> {
      // t19's 60-bit md5 digit-sum idiom with the jse: prefix
      def h(col: String) = (1 to 15).map(i =>
        s"(strpos('0123456789abcdef', substr(md5('jse:' || $col::VARCHAR), $i, 1)) - 1) * ${1L << (4 * (15 - i))}")
        .mkString(" + ")
      s"""WITH ha AS (SELECT (${h("l_orderkey")}) AS h, count(*) AS ca
         |  FROM lineitem GROUP BY 1),
         |hb AS (SELECT (${h("o_orderkey")}) AS h, count(*) AS cb
         |  FROM orders GROUP BY 1),
         |hv AS (SELECT DISTINCT h FROM
         |  (SELECT h FROM ha WHERE ca >= 1000
         |   UNION ALL SELECT h FROM hb WHERE cb >= 1000)),
         |hvagg AS (SELECT count(*) AS n_heavy,
         |    CAST(coalesce(sum(coalesce(ca, 0) * coalesce(cb, 0)), 0) AS BIGINT)
         |      AS heavy_pairs
         |  FROM hv LEFT JOIN ha USING (h) LEFT JOIN hb USING (h)),
         |la AS (SELECT * FROM ha WHERE h NOT IN (SELECT h FROM hv)),
         |lb AS (SELECT * FROM hb WHERE h NOT IN (SELECT h FROM hv)),
         |u AS (SELECT DISTINCT h FROM
         |  (SELECT h FROM la UNION ALL SELECT h FROM lb)),
         |bk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u),
         |bot AS (SELECT h FROM bk WHERE rn <= 256),
         |nu AS (SELECT count(*) AS n, max(h) AS hk FROM bot),
         |p AS (SELECT CAST(coalesce(sum(coalesce(ca, 0) * coalesce(cb, 0)), 0)
         |        AS BIGINT) AS sampled_pairs
         |      FROM bot LEFT JOIN la USING (h) LEFT JOIN lb USING (h)),
         |tr AS (SELECT count(*) AS true_pairs
         |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         |SELECT n AS k_used, n_heavy,
         |  CASE WHEN n < 256 THEN n::DOUBLE
         |       ELSE round(255.0 * 1152921504606846976 / hk::DOUBLE, 4) END
         |    AS union_light_est,
         |  sampled_pairs, heavy_pairs,
         |  round(heavy_pairs::DOUBLE +
         |    CASE WHEN n = 0 THEN 0.0
         |         WHEN n < 256 THEN sampled_pairs::DOUBLE
         |         ELSE round(round(255.0 * 1152921504606846976 / hk::DOUBLE, 4)
         |                    / n * sampled_pairs, 4) END, 4) AS est_pairs,
         |  true_pairs
         |FROM p, nu, hvagg, tr""".stripMargin
    },
    "q27_incremental_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q28_dpp_prune" ->
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 4) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q29_incremental_join" ->
      """SELECT o_orderpriority, count(*) AS n_pairs,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 4) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q30_incremental_distinct" -> {
      // from-scratch KMV over ALL events (t19's replay idiom): if the
      // state+delta sketch merge is correct it must equal this exactly
      val hx = (1 to 15).map(i =>
        s"(strpos('0123456789abcdef', substr(md5('kmv:' || user_id::VARCHAR), $i, 1)) - 1) * ${1L << (4 * (15 - i))}")
        .mkString(" + ")
      s"""WITH h AS (SELECT DISTINCT event_type, ($hx) AS h FROM events),
         |r AS (SELECT event_type, h,
         |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |      FROM h),
         |s AS (SELECT event_type, count(*) AS n_sketch,
         |        max(CASE WHEN rn = 32 THEN h END) AS hk
         |      FROM r WHERE rn <= 32 GROUP BY event_type)
         |SELECT event_type, n_sketch,
         |  CASE WHEN n_sketch < 32 THEN n_sketch::DOUBLE
         |       ELSE round(31.0 * 1152921504606846976 / hk::DOUBLE, 4) END
         |    AS est_distinct
         |FROM s ORDER BY event_type""".stripMargin
    },
    "q34_mv_filter" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_linestatus = 'O'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q33_mv_rewrite" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q36_mv_avg" ->
      """SELECT l_returnflag, count(*) AS n, count(l_quantity) AS n_qty,
        |  round(avg(CAST(l_quantity AS DOUBLE)), 6) AS avg_qty
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // maintain + serve jointly invisible: the raw recompute
    "q41_mv_serve_incremental" ->
      """WITH m AS (
        |  SELECT lang, CAST(length(text) AS BIGINT) AS text_len
        |  FROM documents
        |  WHERE doc_id < 450 AND doc_id NOT IN (11, 99, 222, 333, 444))
        |SELECT lang, count(*) AS n, count(text_len) AS n_len,
        |  CAST(sum(text_len) AS BIGINT) AS sum_len,
        |  min(text_len) AS min_len, max(text_len) AS max_len,
        |  round(avg(CAST(text_len AS DOUBLE)), 6) AS avg_len
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // the incrementally-maintained MV vs the rollup recomputed from the
    // final base state (bootstrap < 300, append [300,450), erase keys)
    "q40_mv_incremental" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
        |  count(length(text)) AS cnt_text_len,
        |  CAST(min(length(text)) AS BIGINT) AS min_text_len,
        |  CAST(max(length(text)) AS BIGINT) AS max_text_len
        |FROM documents
        |WHERE doc_id < 450 AND doc_id NOT IN (5, 37, 120, 301, 420)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the GENUINE join: RI makes the elimination logically invisible
    "q37_join_elim" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q38_left_join_elim" ->
      """SELECT l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "j18_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the storage-partitioned join vs the plain join — bucket layout,
    // catalog routing, and shuffle elimination must be invisible
    "j23_spj" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q31_runtime_filter" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // all three arms recomputed from raw tables: every runtime
    // mechanism (MV rewrite, DPP, bloom) must be logically invisible
    "q35_rule_compose" ->
      """SELECT * FROM (
        |  SELECT 'rollup' AS arm, l_returnflag AS key, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS val
        |  FROM lineitem GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'detail', n_name, count(*),
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 4) AS DOUBLE)
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |  GROUP BY n_name
        |  UNION ALL
        |  SELECT 'urgent', l_returnflag, count(*),
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority = '1-URGENT'
        |  GROUP BY l_returnflag)
        |ORDER BY arm, key""".stripMargin,
    "q24_scalar_subquery" ->
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
        |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
        |    AS max_price
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "j14_lateral_top1" ->
      """SELECT o_orderkey, t.l_linenumber, t.l_extendedprice
        |FROM orders,
        |LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem
        |         WHERE l_orderkey = o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 1) t
        |ORDER BY o_orderkey""".stripMargin,
    "j16_merge_upsert" ->
      """WITH target AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 5 <> 4),
        |delta AS (
        |  SELECT o_orderkey AS d_key, o_custkey AS d_custkey,
        |         CASE WHEN o_orderkey % 21 = 0 THEN 'D' ELSE 'U' END AS op,
        |         CAST(o_orderkey % 100000 AS DOUBLE) AS new_price
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT * FROM (
        |  SELECT t.o_orderkey, t.o_custkey, t.price, 'kept' AS action
        |  FROM target t
        |  WHERE NOT EXISTS (SELECT 1 FROM delta WHERE d_key = t.o_orderkey)
        |  UNION ALL
        |  SELECT t.o_orderkey, t.o_custkey, d.new_price, 'updated'
        |  FROM target t JOIN delta d ON d.d_key = t.o_orderkey AND d.op = 'U'
        |  UNION ALL
        |  SELECT d.d_key, d.d_custkey, d.new_price, 'inserted'
        |  FROM delta d
        |  WHERE d.op = 'U'
        |    AND NOT EXISTS (SELECT 1 FROM target WHERE o_orderkey = d.d_key))
        |ORDER BY o_orderkey""".stripMargin,
    "j17_scd2" ->
      """WITH ordered AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events),
        |changes AS (
        |  SELECT user_id, event_type, ts AS valid_from, event_id
        |  FROM ordered WHERE prev IS NULL OR event_type <> prev)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id
        |                         ORDER BY valid_from, event_id) AS valid_to,
        |  CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
        |                                   ORDER BY valid_from, event_id)
        |         IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM changes
        |ORDER BY user_id, valid_from""".stripMargin,
    "j19_temporal_dim" ->
      // j17's change rows + a per-purchase LATERAL top-1: the latest
      // version starting at or before the purchase (versions partition
      // the timeline, so backward as-of ≡ containment). Tie-break at
      // equal valid_from = greatest opening event_id, matching the
      // as-of's (ts, vid) running-last order (ADVICE r11)
      """WITH ordered AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events),
        |changes AS (
        |  SELECT user_id, event_type, ts AS valid_from, event_id
        |  FROM ordered WHERE prev IS NULL OR event_type <> prev),
        |p AS (SELECT event_id AS purchase_id, user_id, ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id,
        |       v.event_type AS state_at_purchase,
        |       v.event_id AS version_id
        |FROM p, LATERAL (
        |  SELECT event_type, valid_from, event_id FROM changes c
        |  WHERE c.user_id = p.user_id AND c.valid_from <= p.ts
        |  ORDER BY c.valid_from DESC, c.event_id DESC LIMIT 1) v
        |ORDER BY purchase_id""".stripMargin,
    "q23_ri_audit" ->
      """SELECT * FROM (
        |  SELECT 'orders_without_customer' AS relation, count(*) AS n_rows
        |  FROM orders WHERE NOT EXISTS
        |    (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |  UNION ALL
        |  SELECT 'lineitems_without_order', count(*)
        |  FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |  UNION ALL
        |  SELECT 'orders_without_lineitems', count(*)
        |  FROM orders WHERE NOT EXISTS
        |    (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |  UNION ALL
        |  SELECT 'customers_without_orders', count(*)
        |  FROM customer WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |ORDER BY relation""".stripMargin,
    "g2_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS s, b.l_partkey AS t
        |      FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |FROM e e1 JOIN e e2 ON e2.s = e1.t
        |  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t
        |ORDER BY a, b, c""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      CAST(l_discount AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q10_returned_customers" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE) AS revenue
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-04-01'
        |    AND l_returnflag = 'R'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, c_acctbal, n_name, revenue
        |FROM rev JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,6)))), 4) AS DOUBLE) AS revenue
        |FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_8')
        |    OR (sn.n_name = 'NATION_8' AND cn.n_name = 'NATION_3'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q20_dominant_suppliers" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_ps
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |p AS (SELECT l_partkey AS pk, CAST(sum(qty_ps) AS BIGINT) AS qty_p,
        |        count(*) AS n_supp
        |      FROM ps GROUP BY l_partkey),
        |dom AS (SELECT l_suppkey, count(*) AS n_dominant,
        |          CAST(sum(qty_ps) AS BIGINT) AS qty_total
        |        FROM ps JOIN p ON l_partkey = pk
        |        WHERE qty_ps * n_supp > qty_p * 2
        |        GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, n_dominant, qty_total
        |FROM dom JOIN supplier ON s_suppkey = l_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    "j20_asof_exec" ->
      // DuckDB's native ASOF LEFT JOIN replays the backward semantics;
      // the right side is pre-deduped to max event_id per (user, ts)
      // because ASOF's pick among equal timestamps is unspecified
      """WITH v0 AS (
        |  SELECT user_id, ts, value, event_id,
        |    row_number() OVER (PARTITION BY user_id, ts
        |                       ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'view'),
        |v AS (SELECT user_id, ts, value, event_id FROM v0 WHERE rn = 1),
        |p AS (SELECT event_id AS purchase_id, user_id, ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id,
        |  v.event_id AS view_id, v.value AS view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.purchase_id""".stripMargin,
    "j21_asof_tolerance" ->
      // LATERAL top-1 with the (ts DESC, event_id DESC) order — the
      // explicit replay of the exec's tolerance + tie-break contract
      """WITH v AS (
        |  SELECT user_id, ts, value, event_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, x.view_id, x.view_value
        |FROM p LEFT JOIN LATERAL (
        |  SELECT v.event_id AS view_id, v.value AS view_value
        |  FROM v WHERE v.user_id = p.user_id AND v.ts <= p.ts
        |    AND v.ts >= p.ts - INTERVAL 2 HOUR
        |  ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) x ON TRUE
        |ORDER BY p.purchase_id""".stripMargin,
    "j22_asof_forward" ->
      // LATERAL top-1 with the (ts ASC, event_id DESC) order — the
      // forward mirror of j21's contract replay
      """WITH v AS (SELECT event_id AS view_id, user_id, ts
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts, event_id, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT v.view_id, v.user_id, x.purchase_id, x.purchase_value
        |FROM v LEFT JOIN LATERAL (
        |  SELECT p.event_id AS purchase_id, p.value AS purchase_value
        |  FROM p WHERE p.user_id = v.user_id AND p.ts >= v.ts
        |  ORDER BY p.ts ASC, p.event_id DESC LIMIT 1) x ON TRUE
        |ORDER BY v.view_id""".stripMargin,
    "q39_footer_agg" ->
      // footer-served or not, the aggregates must equal the raw table's
      """SELECT count(*) AS n_rows,
        |  min(event_id) AS lo_event, max(event_id) AS hi_event,
        |  min(user_id) AS lo_user, max(user_id) AS hi_user,
        |  count(props) AS n_props
        |FROM events""".stripMargin)

  val oracleSql: Map[String, String] =
    baseOracleSql ++ TextQueries.oracleSql ++ DedupQueries.oracleSql ++
      SimilarityQueries.oracleSql ++ EventQueries.oracleSql ++ NewsQueries.oracleSql ++
      MediaQueries.oracleSql ++ TrainingQueries.oracleSql
}
