package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface (SURVEY.md §2 Part B): scans, joins
  * (broadcast/sort-merge/semi/anti/range/as-of), aggregations
  * (hash/distinct/rollup/cube/grouping-sets), window functions, top-k,
  * set ops, scalar/JSON functions.
  *
  * Every query here is paired with DuckDB oracle SQL that must
  * hash-match exactly. Conventions for that (SURVEY.md §7 hard-parts):
  *   - double aggregates are integerized (`round(x*100) → cents` as
  *     BIGINT) so sums are order-independent and exact in both engines;
  *   - every result has a total ORDER BY with explicit null ordering;
  *   - timestamps only pass through unchanged or via date_trunc, never
  *     through float arithmetic.
  *
  * Scale notes (100 TB): dimension joins are explicitly `broadcast`;
  * fact-fact joins shuffle on their keys and rely on AQE; per-group
  * top-k uses windows (no global sort of the fact table); nothing
  * collects to the driver.
  */
object RelationalQueries {
  import Tables._

  /** sum(round(x*100)) as exact integer cents — order-independent. */
  private def cents(c: Column): Column = sum(round(c * 100).cast("long"))

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- scans

  /** Projection + filter meant to reach the parquet scan as
    * PushedFilters/ReadSchema (verified in PlanSpec). */
  val q_scan_pushdown: Q = (s, d) =>
    part(s, d)
      .filter(col("p_size") >= 25 && col("p_type") === "PROMO")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .orderBy(col("p_partkey"))

  // ----------------------------------------------------------- aggregation

  /** TPC-H Q1 shape: the flagship aggregation. */
  val q1_pricing_summary: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        cents(col("l_extendedprice")).as("sum_base_cents"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_cents"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q6 shape: single-pass filtered aggregate, no grouping. */
  val q6_revenue_delta: Q = (s, d) =>
    lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.04, 0.07) &&
        col("l_quantity") < 24)
      .agg(cents(col("l_extendedprice") * col("l_discount")).as("revenue_cents"))

  val q_distinct_agg: Q = (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** approx_count_distinct (HLL++, rsd = 0.01) as a BOUND-WITNESS —
    * the sketch's raw value differs from DuckDB's HLL so it can't be
    * hash-matched, but its CONTRACT can: the query emits the exact
    * distinct counts (DuckDB recomputes those independently) plus
    * |approx − exact| ≤ 3·rsd·exact flags. A hash match proves the
    * sketch ran inside its 3σ band; the sketch remains the 100 TB
    * distinct path (fixed-size, mergeable map-side, one pass — the
    * exact companion here exists only to measure it). */
  val q_approx_distinct: Q = (s, d) => {
    val li = lineitem(s, d)
    // one HLL pass for both sketches; the exact sides as separate
    // distinct→count sub-aggregations (each fully map-side-partial) —
    // fusing countDistinct×2 + approx×2 into ONE agg makes Catalyst
    // expand every row 3-way and was 6× slower at sf0.1
    val ap = li.agg(
      approx_count_distinct(col("l_partkey"), 0.01).as("ap_parts"),
      approx_count_distinct(col("l_orderkey"), 0.01).as("ap_orders"))
    val np = li.select(col("l_partkey")).distinct().agg(count(lit(1)).as("n_parts"))
    val no = li.select(col("l_orderkey")).distinct().agg(count(lit(1)).as("n_orders"))
    np.crossJoin(no).crossJoin(ap)
      .select(col("n_parts"), col("n_orders"),
        (abs(col("ap_parts") - col("n_parts"))
          <= lit(0.03) * col("n_parts")).as("parts_within_3rsd"),
        (abs(col("ap_orders") - col("n_orders"))
          <= lit(0.03) * col("n_orders")).as("orders_within_3rsd"))
  }

  /** Mergeable-sketch rollup — the DISTINCT-COUNT complement of
    * [[q_incremental_agg]]'s decomposable-aggregate contract: per-month
    * Apache DataSketches HLL sketches (`hll_sketch_agg`) are UNIONED
    * (`hll_union_agg`) into a grand total WITHOUT rescanning history —
    * exactly how a production rollup maintains daily/monthly/all-time
    * distinct users from stored partial sketches. (countDistinct can't
    * do this: distinct counts don't sum across partitions; sketches
    * union losslessly.) The witness asserts every per-month estimate
    * AND the merged estimate are within ±5 % (≈3σ at lgConfigK=12) of
    * their exact sides; the spec additionally pins the merge law —
    * union-of-partials estimates EXACTLY what one sketch over the
    * whole column estimates. Exact sides are recomputed independently
    * by DuckDB. */
  val q_hll_rollup: Q = (s, d) => {
    val li = lineitem(s, d)
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
    // ONE lineitem scan: the distinct (month, partkey) PAIR SET is a
    // sufficient statistic for everything this witness emits. An HLL
    // register state depends only on the SET of inserted values
    // (duplicate inserts re-hit the same bucket with the same rho, and
    // the register keeps the max), so sketching the deduplicated pairs
    // yields bit-identical estimates to sketching the raw stream;
    // exact_m is a plain count over the pairs; exact_total is the
    // distinct partkey count of the same pair set. The previous shape
    // (a) computed count_distinct INSIDE the monthly agg, whose Expand
    // doubled the rows feeding the sketch ObjectHashAggregate — which
    // falls back to sort-based past 128 groups
    // (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`) —
    // and (b) re-scanned lineitem for the exact total (guide §2.3/§2.4:
    // shuffle fewer bytes, don't compute twice what one pass carries).
    // The pair set is consumed by BOTH the monthly rollup and the
    // exact-total distinct, so it is localCheckpoint'd once (same
    // shared-subtree cut as the dedup CC pipeline). At 100 TB the pair
    // set is months × |parts| — bounded by the key domain, never by
    // fact-table row count. Output columns and values are
    // byte-identical; the DuckDB oracle hash pins it.
    val pairs = li.select(col("m"), col("l_partkey")).distinct()
      .localCheckpoint()
    val monthly = pairs.groupBy(col("m"))
      .agg(hll_sketch_agg(col("l_partkey"), 12).as("sk"),
        count(lit(1)).as("exact_m"))
      .withColumn("est_m", hll_sketch_estimate(col("sk")))
    val combined = monthly.agg(
      count(lit(1)).as("n_months"),
      min(when(abs(col("est_m") - col("exact_m")) * lit(100) <= col("exact_m") * lit(5), 1L)
        .otherwise(0L)).as("all_ok"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_total"))
    val exactTotal = pairs.select(col("l_partkey")).distinct()
      .agg(count(lit(1)).as("exact_total"))
    combined.crossJoin(exactTotal)
      .select(col("n_months"), col("exact_total"),
        (col("all_ok") === 1L).as("monthly_ok"),
        (abs(col("est_total") - col("exact_total")) * lit(100)
          <= col("exact_total") * lit(5)).as("merged_ok"))
  }

  /** Exact interpolated quantiles over INTEGER cents — the length/size
    * distribution profile every data-quality pipeline computes. The
    * quarter positions make the linear interpolation exactly
    * representable in binary ((1−d)·a + d·b with d ∈ {0, ¼, ½, ¾} over
    * integers), so Spark's `percentile` and DuckDB's `quantile_cont`
    * agree bit-for-bit and the result is hash-checkable — no float
    * drift. One shuffle; per-group state is the sorted digest. */
  val q_percentiles: Q = (s, d) =>
    lineitem(s, d)
      .withColumn("qty_cents", round(col("l_quantity") * 100).cast("long"))
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("qty_cents"), lit(0.25)).as("p25"),
        percentile(col("qty_cents"), lit(0.5)).as("p50"),
        percentile(col("qty_cents"), lit(0.75)).as("p75"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** `percentile_approx` (t-digest, accuracy 10000) as a BOUND-WITNESS
    * — the 100 TB quantile path: exact percentile holds all values per
    * group; the sketch is fixed-size and mergeable map-side. Sketch
    * internals differ from DuckDB's `approx_quantile` so the raw
    * values can't hash-match, but the CONTRACT can: the query emits
    * the row count (DuckDB recomputes it) plus |approx − exact| ≤
    * 1 %·exact flags at p50/p90/p99. A hash match proves the t-digest
    * ran inside its error band; the exact companion exists only to
    * measure it. */
  val q_approx_percentile: Q = (s, d) => {
    val li = lineitem(s, d)
      .withColumn("price_cents", round(col("l_extendedprice") * 100).cast("long"))
    val pcts = Seq(0.5, 0.9, 0.99)
    // ONE t-digest serving all three quantiles (three separate calls
    // each build and merge their own state, 3× the work for nothing)
    val ap = li.agg(
      count(lit(1)).as("n"),
      percentile_approx(col("price_cents"),
        array(pcts.map(lit): _*), lit(10000)).as("ap"))
    // EXACT side, distributed: the global `percentile` aggregate
    // collects EVERY value into one buffer and merges + sorts it in a
    // single final task — the one genuinely non-scaling operator this
    // witness had (measured sf0.1: ~3.5 s of the query's ~4 s; at
    // 100 TB it is an executor OOM). Equivalent plan from codegen'd
    // primitives (guide §1.2.1, change the algorithm before the
    // config): value histogram (map-side-combinable groupBy) →
    // cumulative counts over DISTINCT values (583k rows at sf0.1, not
    // 600k raw — and histogram-sized, never corpus-sized, at any
    // scale) → rank straddle per percentile.
    // Interpolation replicates Percentile.getPercentile term order
    // exactly — (higher−pos)·lowerVal + (pos−lower)·higherVal, with
    // both equal-key short-circuits — so the result is bit-identical
    // to the aggregate it replaces (probe-checked at sf0.1; the
    // `percentile` aggregate itself stays exercised by q_percentiles /
    // q_window_quartiles per group, where per-group buffers are the
    // right shape).
    // Two-level cumulative count (round-16 verdict item 7, guide §2.4):
    // the histogram's running sum previously ran as ONE
    // `Exchange SinglePartition` + single-task Sort+Window over every
    // distinct value (583k rows at sf0.1), and a third lineitem scan
    // (`hist.agg(sum(freq))`) fetched the total. Now the histogram is
    // range-bucketed by pure arithmetic (`price_cents DIV 4096` —
    // monotone for the positive price domain, so bucket order == value
    // order), ONE repartition(bkt) exchange feeds BOTH the per-bucket
    // running sum (window clustered by bkt — parallel, no global sort)
    // and the per-bucket totals (agg clustered by bkt); only the
    // ~#buckets-sized offsets table (price domain / 4096 rows — 2.6k at
    // sf0.1, bounded by the DOMAIN at any corpus size) crosses a
    // SinglePartition window; its two consumers (total + broadcast
    // join) stay lazy in the ONE job so the repartition exchange is
    // computed once and ReusedExchange feeds every consumer (an eager
    // localCheckpoint here measured 0.6 s SLOWER — it splits the job
    // and recomputes the histogram). cum = within-bucket running sum + sum of all
    // preceding buckets — the same integer for every row regardless of
    // partitioning, so lo/hi/interpolation are bit-identical and the
    // oracle hash pins it. The total `nn` now comes from the offsets
    // table (off+bt of the last bucket), not a rescan: lineitem is
    // scanned once for the t-digest and once for the histogram.
    val hist = li.groupBy(col("price_cents")).agg(count(lit(1)).as("freq"))
      .withColumn("bkt", expr("price_cents DIV 4096"))
    val rep = hist.repartition(col("bkt"))
    val cumIn = rep.withColumn("cum_in",
      sum(col("freq")).over(
        Window.partitionBy(col("bkt")).orderBy(col("price_cents"))))
    val wOffs = Window.orderBy(col("bkt"))
    val offs = rep.groupBy(col("bkt")).agg(sum(col("freq")).as("bt"))
      .withColumn("off",
        coalesce(sum(col("bt")).over(
          wOffs.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // grand total rides the SAME tiny sort+window (full frame), so
      // `offs` has exactly ONE consumer — no duplicated subtree, no
      // separate total scan
      .withColumn("nn",
        sum(col("bt")).over(
          wOffs.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val cum = cumIn.join(broadcast(offs.select(col("bkt"), col("off"), col("nn"))), "bkt")
      .withColumn("cum", col("cum_in") + col("off"))
    val sels = pcts.zipWithIndex.flatMap { case (p, i) =>
      val pos = (col("nn") - 1).cast("double") * lit(p)
      Seq(min(when(col("cum") >= floor(pos) + 1, col("price_cents")))
            .as(s"lo_$i"),
          min(when(col("cum") >= ceil(pos) + 1, col("price_cents")))
            .as(s"hi_$i"))
    }
    val ex = cum.agg(max(col("nn")).as("nn"), sels: _*)
    val es = pcts.zipWithIndex.map { case (p, i) =>
      val pos = (col("nn") - 1).cast("double") * lit(p)
      val lo = col(s"lo_$i").cast("double")
      val hi = col(s"hi_$i").cast("double")
      when(floor(pos) === ceil(pos) || lo === hi, lo)
        .otherwise((ceil(pos) - pos) * lo + (pos - floor(pos)) * hi)
        .as(s"e_$i")
    }
    ap.crossJoin(ex.select(es: _*))
      .select(col("n"),
        (abs(element_at(col("ap"), 1) - col("e_0"))
          <= lit(0.01) * col("e_0")).as("p50_within_1pct"),
        (abs(element_at(col("ap"), 2) - col("e_1"))
          <= lit(0.01) * col("e_1")).as("p90_within_1pct"),
        (abs(element_at(col("ap"), 3) - col("e_2"))
          <= lit(0.01) * col("e_2")).as("p99_within_1pct"))
  }

  /** Pivot (long → wide): per-status counts spread over the five
    * priority classes. The value list is EXPLICIT, so the plan is a
    * single pass with conditional aggregation — no extra job to
    * discover pivot values, which at 100 TB would be a full scan. */
  val q_pivot: Q = (s, d) =>
    orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .select(col("o_orderstatus"),
        coalesce(col("1-URGENT"), lit(0L)).as("n_urgent"),
        coalesce(col("2-HIGH"), lit(0L)).as("n_high"),
        coalesce(col("3-MEDIUM"), lit(0L)).as("n_medium"),
        coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("n_unspec"),
        coalesce(col("5-LOW"), lit(0L)).as("n_low"))
      .orderBy(col("o_orderstatus"))

  /** Generator / lateral view: `posexplode` fans each document into
    * (position, token) rows — the table-function shape (UDTF surface)
    * — then corpus-level token stats with a deterministic top-20. The
    * explode is narrow (no shuffle until the groupBy); hot tokens cost
    * linearly. */
  val q_lateral_explode: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("pos")).as("first_pos"))
      .orderBy(desc("n"), col("tok"))
      .limit(20)

  val q_rollup: Q = (s, d) =>
    orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), cents(col("o_totalprice")).as("total_cents"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val q_cube: Q = (s, d) =>
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** GROUPING SETS via the DataFrame API — distinct grouping-set shapes
    * vs rollup/cube, with no session-global temp-view side effect. */
  val q_grouping_sets: Q = (s, d) =>
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** ROLLUP with `grouping()` / `grouping_id()` — the disambiguation a
    * reporting layer NEEDS once grouping columns can themselves be
    * NULL: a subtotal row and a genuine null-group row render
    * identically without the grouping flags. The flag column is
    * PLANTED nullable (the `% 13` rule blanks the status), so both
    * kinds of NULL genuinely occur and the flags are load-bearing —
    * the oracle replays `GROUPING()` bit-for-bit. Expansion happens
    * after pre-aggregation exactly as in [[q_rollup]]. */
  val q_grouping_id: Q = (s, d) =>
    orders(s, d)
      .withColumn("status_n",
        when(col("o_orderkey") % 13 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")))
      .rollup(col("status_n"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        grouping(col("status_n")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        grouping_id().cast("int").as("gid"))
      .select(col("status_n"), col("o_orderpriority"), col("n"),
        col("g_status"), col("g_prio"), col("gid"))
      .orderBy(col("gid"), asc_nulls_first("status_n"),
        asc_nulls_first("o_orderpriority"))

  // ----------------------------------------------------------------- joins

  /** TPC-H Q3 shape: fact-fact shuffle join + dim join + group + top-k
    * via limit after sort of the small aggregate. Customer is a SCALING
    * table — no forced broadcast; AQE picks broadcast when the filtered
    * side fits and falls back to shuffle join at 100× scale. */
  val q3_top_unshipped: Q = (s, d) => {
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = orders(s, d).filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val l = lineitem(s, d).filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
      .orderBy(desc("revenue_cents"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: star join — the FIXED-SIZE dims (nation 25 rows,
    * region 5 rows) broadcast unconditionally; customer scales with SF
    * so AQE decides its join side. One fact shuffle either way.
    *
    * Round-10 note on the round-9 bench anomaly (3.79 s vs 1.05 s
    * clean, unchanged code): solo re-timing in a fresh local[32] JVM
    * at sf0.1 gave best 1.03 s over 5 runs with the expected
    * all-broadcast final plan — the slowdown was in-JVM contention in
    * the 126-query suite (storage blocks awaiting GC-driven
    * ContextCleaner reclaim squeeze unified memory), not a plan or
    * code issue. Defenses now in place: `PlanSweepSpec` pins the
    * customer join's broadcast strategy in the AQE final plan at
    * sf0.1, `Bench` records every attempt's time in bench-latest's
    * "runs" block, and `Bench` GCs every 8 queries to drain the
    * cleaner queue. */
  val q5_region_revenue: Q = (s, d) => {
    val l = lineitem(s, d)
    val o = orders(s, d)
    val c = customer(s, d)
    val n = nation(s, d)
    val r = region(s, d)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"),
           count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))
  }

  /** left_semi = EXISTS — customers having at least one URGENT order. */
  val q_semi_join: Q = (s, d) =>
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** left_anti = NOT EXISTS — customers with no URGENT order. (Every
    * customer has SOME order in the fixture, so the filter keeps the
    * result non-empty: a hash match on a non-trivial set, not on ∅.) */
  val q_anti_join: Q = (s, d) =>
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Outer join preserving empty dims: nation left join customer counts. */
  val q_outer_join: Q = (s, d) =>
    nation(s, d)
      .join(customer(s, d), col("n_nationkey") === col("c_nationkey"), "left_outer")
      .groupBy(col("n_name"))
      .agg(count(col("c_custkey")).as("n_customers"))
      .orderBy(col("n_name"))

  /** Range bucketing: orders binned into quarters via a broadcast
    * range-join against a tiny generated calendar dim (the Spark side
    * exercises a genuine non-equi broadcast join; the oracle reproduces
    * the identical result arithmetically). The calendar bounds are
    * DERIVED from the data (one scalar aggregate job over a pruned
    * scan) so the join covers every order regardless of the fixture's
    * date span — no silently dropped out-of-range rows. */
  val q_range_join: Q = (s, d) => {
    import s.implicits._
    val yr = orders(s, d)
      .agg(min(year(col("o_orderdate"))).as("y0"), max(year(col("o_orderdate"))).as("y1"))
      .head()
    val quarters = (yr.getInt(0) to yr.getInt(1)).flatMap { y =>
      (1 to 4).map { q =>
        val m0 = (q - 1) * 3 + 1
        val (y1, m1) = if (q == 4) (y + 1, 1) else (y, m0 + 3)
        (f"$y%04dQ$q", f"$y%04d-$m0%02d-01 00:00:00", f"$y1%04d-$m1%02d-01 00:00:00")
      }
    }.toDF("bucket", "start_s", "end_s")
      .select(col("bucket"),
              col("start_s").cast("timestamp").as("start_ts"),
              col("end_s").cast("timestamp").as("end_ts"))
    orders(s, d)
      .join(broadcast(quarters),
            col("o_orderdate") >= col("start_ts") && col("o_orderdate") < col("end_ts"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), cents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("bucket"))
  }

  /** Session clone with [[graft.plans.RangeJoinBinning]] installed via
    * `experimental.extraOptimizations` (the already-built-session
    * registration path; clusters use `spark.sql.extensions=
    * graft.plans.GraftSparkExtensions`). Bin width 1800 s matches the
    * witness's 30-minute intervals (the classic dial: width ≈ typical
    * interval length ⇒ ≤2 bins per interval); `force` bypasses the
    * broadcast-size guard because fixture sides are tiny while the
    * rule exists for the two-big-sides regime. A CLONE so the rule and
    * its confs never touch the caller's session (same isolation
    * argument as the streaming clone). */
  private def binningSession(width: String) = new graft.SessionCache.PerSession({ s0 =>
    val c = s0.newSession()
    val cc = c.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cc.experimental.extraOptimizations =
      cc.experimental.extraOptimizations :+ graft.plans.RangeJoinBinning
    c.conf.set(graft.plans.RangeJoinBinning.WidthKey, width)
    c.conf.set(graft.plans.RangeJoinBinning.ForceKey, "true")
    c
  })

  private val rangeJoinSession = binningSession("1800")

  /** BINNED range join through the optimizer RULE (vs [[q_range_join]]'s
    * broadcast-small-side shape): error-blackout impact — for each
    * sampled error event's 30-minute window, how many clicks (any user)
    * landed inside it. The join's ONLY cross-side predicate is the band
    * `lo <= click_ts <= hi` — no equi key, the shape Spark can only
    * BNLJ/cartesian — and [[graft.plans.RangeJoinBinning]] rewrites it
    * to an equi join on 1800 s bins + residual, so the physical plan is
    * a hash/sort-merge join (plan-asserted in the spec, alongside
    * result equality with the rule disabled). At 100 TB both sides are
    * fact-sized event streams and the bin key is the shuffle key. */
  val q_range_bin_join: Q = (s, d) => {
    val ss = rangeJoinSession(s)
    val ev = events(ss, d)
    val windows = ev
      .filter(col("event_type") === "error" && col("event_id") % 37 === 0)
      .select(col("event_id").as("window_id"), col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("hi"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    clicks.join(windows, col("click_ts") >= col("lo") && col("click_ts") <= col("hi"))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_clicks"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("window_id"))
  }

  /** The DATE-typed face of the binning rule (width 7 DAYS — dates bin
    * via `unix_date`, since `Cast(date, long)` is invalid in Spark 4
    * and an optimizer-built one would fail the whole query at plan
    * validation). A 7-day session clone mirrors [[rangeJoinSession]]. */
  private val rangeJoinDateSession = binningSession("7")

  /** Binned range join on DATE columns through the optimizer rule:
    * promo-window impact — for each sampled order's 7-day window
    * starting at its order date, how many lineitems (of ANY order)
    * shipped inside it. Band-only predicate between two fact-derived
    * sides, same two-big-sides regime as [[q_range_bin_join]], but the
    * band columns are genuine DateType — the witness for the rule's
    * day-unit binning path. */
  val q_range_bin_date: Q = (s, d) => {
    val ss = rangeJoinDateSession(s)
    val win = orders(ss, d)
      .filter(col("o_orderkey") % 1009 === 0)
      .select(col("o_orderkey").as("window_id"),
        col("o_orderdate").cast("date").as("lo"),
        date_add(col("o_orderdate").cast("date"), 6).as("hi"))
    val ships = lineitem(ss, d)
      .select(col("l_shipdate").cast("date").as("ship_d"), col("l_quantity"))
    ships.join(win, col("ship_d") >= col("lo") && col("ship_d") <= col("hi"))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_ship"),
        sum(round(col("l_quantity")).cast("long")).as("qty"))
      .orderBy(col("window_id"))
  }

  /** As-of join: for each click event, the most recent error timestamp
    * for the same user at or before it. Expressed as a running MAX over
    * a RANGE frame (tie-safe), not a self-join — one shuffle by user. */
  val q_asof_join: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("last_error_ts",
        max(when(col("event_type") === "error", col("ts"))).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("last_error_ts"))
      .orderBy(col("event_id"))
  }

  /** Null-safe equality (<=>) in a join: events bucketed by nullable
    * derived key joined null-safely against a tiny key dim. */
  val q_nullsafe_eq: Q = (s, d) => {
    import s.implicits._
    val dim = Seq(Some("click"), Some("view"), None).toDF("k")
    events(s, d)
      .withColumn("k2", when(col("event_type").isin("click", "view"), col("event_type")))
      .join(broadcast(dim), col("k2") <=> col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("k"))
  }

  // --------------------------------------------------------------- windows

  /** rank/dense_rank/row_number per nation over customer balances. */
  val q_window_rank: Q = (s, d) => {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(desc("c_acctbal"), col("c_custkey"))
    customer(s, d)
      .select(col("c_nationkey"), col("c_custkey"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rk"),
        dense_rank().over(w).as("drk"))
      .filter(col("rn") <= 5)
      .orderBy(col("c_nationkey"), col("rn"))
  }

  /** lag/lead over each customer's order history (deterministic
    * tie-break on orderkey). */
  val q_window_lag_lead: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Running sum with explicit ROWS frame over exact integer cents. */
  val q_window_running_sum: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(round(col("o_totalprice") * 100).cast("long")).over(w).as("running_cents"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Distribution window functions — ntile/percent_rank/cume_dist per
    * customer (order-timeline quartiles). The rank ratios divide small
    * exact integers in IEEE double, a single correctly-rounded
    * operation both engines perform on identical operands — so even
    * the fractional columns hash-match. Unique orderkey ordering keeps
    * every rank deterministic. Partitioning is on o_custkey (high
    * cardinality): rank ratios need their WHOLE partition, so unlike
    * top-k they cannot be salted — the scale rule is to window over
    * keys whose per-key row count is bounded, never over a 3-value
    * column. */
  val q_window_dist: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy(col("o_orderkey"))
  }

  /** The SQL FRONT-END surface with a correlated EXISTS — TPC-H Q4's
    * shape (Q1-1995 orders having at least one returned line item).
    * Registered through `spark.sql` over per-call temp views (unique
    * names, dropped after analysis — the sql() call resolves the plan
    * eagerly so the views are no longer needed), proving the engine's
    * text interface produces the same Catalyst plans the DataFrame API
    * does: the correlated subquery rewrites to a left-semi join, and
    * the lineitem-side filter pushes into the scan. */
  val q_sql_exists: Q = (s, d) => {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    orders(s, d).createOrReplaceTempView(s"graft_o_$tag")
    lineitem(s, d).createOrReplaceTempView(s"graft_l_$tag")
    try s.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n
         |FROM graft_o_$tag
         |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
         |  AND EXISTS (SELECT 1 FROM graft_l_$tag
         |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    finally {
      s.catalog.dropTempView(s"graft_o_$tag")
      s.catalog.dropTempView(s"graft_l_$tag")
    }
  }

  /** The NATIVE EXPRESSIONS through the SQL FRONT-END —
    * [[graft.functions.GraftFunctions]] registers every custom
    * Catalyst expression in the session's function registry (the same
    * entries `spark.sql.extensions=graft.plans.GraftSparkExtensions`
    * injects at session build), and this witness drives three of them
    * from SQL TEXT over adjacent part-name pairs: the codegen'd
    * Jaro-Winkler kernel, the distinct word-shingle pass, and the
    * Karp-Rabin rolling hash (whose k/base/mod arrive as SQL integer
    * literals and become expression constructor parameters — the
    * `approx_count_distinct`-precision pattern). DuckDB recomputes all
    * three from first principles (its own jaro_winkler_similarity; a
    * list-comprehension shingle distinct; the polynomial replay from
    * t_fingerprint's oracle) — so the hash match proves the SQL
    * registration resolves, folds its literal config, and evaluates
    * bit-identically to the Column API the rest of the library uses
    * ([[graft.GraftFunctionsSpec]] pins SQL ≡ Column for all six
    * registered functions, including the two with no SQL replay). */
  val q_sql_native_fns: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    Tables.part(s, d).createOrReplaceTempView(s"graft_p_$tag")
    try s.sql(
      s"""SELECT p1.p_partkey,
         |  ROUND(graft_jaro_winkler(p1.p_name, p2.p_name), 9) AS jw9,
         |  CAST(size(graft_word_shingles(p1.p_name, 2)) AS INT) AS n_sh2,
         |  CAST(element_at(graft_rolling_hashes(p1.p_name, 8, 257, 1000003), 1)
         |       AS BIGINT) AS fp_first
         |FROM graft_p_$tag p1 JOIN graft_p_$tag p2
         |  ON p2.p_partkey = p1.p_partkey + 1
         |WHERE length(p1.p_name) >= 8
         |ORDER BY p1.p_partkey""".stripMargin)
    finally {
      s.catalog.dropTempView(s"graft_p_$tag"): Unit
    }
  }

  /** ANSI aggregate FILTER clauses through the SQL front-end — the
    * conditional-aggregation syntax (`COUNT(*) FILTER (WHERE …)`)
    * analysts write instead of CASE pyramids; Spark compiles each to
    * the same conditional aggregate as [[q_conditional_agg]]'s
    * DataFrame form, one pass, map-side combined. Both engines run the
    * literally identical statement. */
  val q_sql_agg_filter: Q = (s, d) => {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    orders(s, d).createOrReplaceTempView(s"graft_o_$tag")
    try s.sql(sqlAggFilter(s"graft_o_$tag"))
    finally { s.catalog.dropTempView(s"graft_o_$tag"): Unit }
  }

  /** ONE template for both engines (identity mapping in the oracle). */
  private def sqlAggFilter(ordersTable: String): String =
    s"""SELECT o_orderstatus,
       |  COUNT(*) AS n,
       |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |    FILTER (WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00') AS BIGINT)
       |    AS cents_since_95,
       |  CAST(MIN(o_orderkey) FILTER (WHERE o_custkey % 2 = 0) AS BIGINT)
       |    AS min_even_cust_order
       |FROM $ordersTable
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Correlated LATERAL subquery with ORDER BY + LIMIT through the SQL
    * front-end — the "top-N related rows per outer row" idiom
    * (`FROM customer, LATERAL (SELECT … WHERE o_custkey = c_custkey
    * ORDER BY … LIMIT 3)`). The naive reading is a per-customer rescan
    * of orders — quadratic at 100 TB; Catalyst DECORRELATES the
    * limit-under-lateral into one windowed rank over a single
    * equi-join (the same physical shape [[q_topk_per_group]] writes by
    * hand), so the SQL sugar costs one shuffle like the explicit form.
    * Ties broken by o_orderkey for determinism. */
  val q_sql_lateral: Q = (s, d) => {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    orders(s, d).createOrReplaceTempView(s"graft_o_$tag")
    customer(s, d).createOrReplaceTempView(s"graft_c_$tag")
    try s.sql(
      s"""SELECT c_custkey, o_orderkey, total_cents
         |FROM graft_c_$tag, LATERAL (
         |  SELECT o_orderkey,
         |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
         |  FROM graft_o_$tag
         |  WHERE o_custkey = c_custkey
         |  ORDER BY total_cents DESC, o_orderkey LIMIT 3) best
         |WHERE c_mktsegment = 'BUILDING'
         |ORDER BY c_custkey, total_cents DESC, o_orderkey""".stripMargin)
    finally {
      s.catalog.dropTempView(s"graft_o_$tag")
      s.catalog.dropTempView(s"graft_c_$tag")
    }
  }

  /** Correlated SCALAR subquery through the SQL front-end (the TPC-H
    * Q2/Q17 inner shape): each customer compared against an aggregate
    * of ITS OWN orders. Catalyst de-correlates this into one
    * aggregate-then-join — per-custkey max computed with map-side
    * partials, then a single equi-join — never a per-row re-scan of
    * orders (the naive nested-loop reading of the syntax, quadratic at
    * 100 TB). Cents integerization keeps the equality float-proof. */
  val q_sql_scalar_subquery: Q = (s, d) => {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    customer(s, d).createOrReplaceTempView(s"graft_sc_$tag")
    orders(s, d).createOrReplaceTempView(s"graft_so_$tag")
    try s.sql(
      s"""SELECT c_mktsegment,
         |  COUNT(*) AS n_customers,
         |  CAST(SUM(best_cents) AS BIGINT) AS best_cents_sum
         |FROM (
         |  SELECT c_custkey, c_mktsegment,
         |    (SELECT CAST(MAX(ROUND(o_totalprice * 100)) AS BIGINT)
         |     FROM graft_so_$tag WHERE o_custkey = c_custkey) AS best_cents
         |  FROM graft_sc_$tag) t
         |WHERE best_cents IS NOT NULL
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    finally {
      s.catalog.dropTempView(s"graft_sc_$tag")
      s.catalog.dropTempView(s"graft_so_$tag")
    }
  }

  /** Recursive CTE through the SQL front-end (Spark 4's
    * `WITH RECURSIVE`): a bounded breadth-first walk over the planted
    * host link graph ([[PipelineOps.p_host_rank]]'s edge construction),
    * counting for every host its minimum hop distance from host 0 and
    * the number of length-≤3 walks that reach it. Each recursion step
    * is an EQUI-join of the current frontier against the edge list
    * plus a union — the iterative dataflow Spark plans as a
    * UnionLoop; the depth bound caps walk multiplicity, which is what
    * you do at 100 TB before aggregating reachability (an unbounded
    * dense-graph recursion is exponential in any engine). DuckDB runs
    * the identical recursion, so min-depths AND path counts
    * hash-match. */
  val q_sql_recursive: Q = (s, d) => {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    Tables.documents(s, d).createOrReplaceTempView(s"graft_sd_$tag")
    try s.sql(
      s"""WITH RECURSIVE reach(host, depth) AS (
         |  SELECT CAST(0 AS BIGINT), 0
         |  UNION ALL
         |  SELECT e.dst, r.depth + 1
         |  FROM reach r JOIN (
         |    SELECT DISTINCT doc_id % 40 AS src, (doc_id * 7 + 13) % 37 AS dst
         |    FROM graft_sd_$tag
         |    WHERE doc_id % 40 <> (doc_id * 7 + 13) % 37) e
         |  ON e.src = r.host
         |  WHERE r.depth < 3)
         |SELECT host, CAST(MIN(depth) AS INT) AS min_hops,
         |  COUNT(*) AS n_walks
         |FROM reach GROUP BY host ORDER BY host""".stripMargin)
    finally s.catalog.dropTempView(s"graft_sd_$tag")
  }

  /** TPC-H Q15's shape through the SQL front-end: a revenue VIEW (CTE)
    * consumed TWICE — joined to supplier AND max-aggregated in a
    * scalar subquery (`WHERE total = (SELECT MAX(total) FROM
    * revenue)`), the classic arg-max-over-an-aggregated-view. The
    * scale question is whether the view is computed once or re-scanned
    * per consumer: Catalyst plans both consumers over the SAME
    * per-suppkey aggregate — the scalar subquery's plan resolves its
    * exchange as a `ReusedExchange` of the main side's shuffle
    * (asserted in [[graft.RelationalQueriesSpec]]), so lineitem is
    * scanned and partially aggregated exactly once; the second
    * consumer costs one extra reduce over the already-shuffled
    * per-suppkey rows, never a second pass over the fact table.
    * Revenue is exact-integer: cents × (100 − discount%), both factors
    * individually ROUND-exact in both engines, so the MAX equality
    * cannot float-drift (ties would all be kept, deterministically). */
  val q_sql_revenue_view: Q = (s, d) => {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    lineitem(s, d).createOrReplaceTempView(s"graft_rl_$tag")
    supplier(s, d).createOrReplaceTempView(s"graft_rs_$tag")
    try s.sql(
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no,
         |    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
         |        (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS total_e4
         |  FROM graft_rl_$tag
         |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
         |    AND l_suppkey IS NOT NULL
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_e4
         |FROM graft_rs_$tag JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_e4 = (SELECT MAX(total_e4) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin)
    finally {
      s.catalog.dropTempView(s"graft_rl_$tag")
      s.catalog.dropTempView(s"graft_rs_$tag")
    }
  }

  /** TPC-H Q18's shape through the SQL front-end: `IN (GROUP BY …
    * HAVING)` — a semi-join against an AGGREGATED subquery. The scale
    * shape matters: Catalyst must aggregate lineitem FIRST (map-side
    * partial sum, one shuffle on l_orderkey) and semi-join the compact
    * keeper-key set against orders — never materialize orders × items.
    * Quantity sums are integerized (ROUND → BIGINT) so the HAVING
    * threshold is float-drift-proof across engines. */
  val q_sql_having_in: Q = (s, d) => {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    orders(s, d).createOrReplaceTempView(s"graft_ho_$tag")
    lineitem(s, d).createOrReplaceTempView(s"graft_hl_$tag")
    try s.sql(
      s"""SELECT o_orderkey, o_orderstatus,
         |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
         |FROM graft_ho_$tag
         |WHERE o_orderkey IN (
         |  SELECT l_orderkey FROM graft_hl_$tag
         |  GROUP BY l_orderkey
         |  HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 150)
         |ORDER BY o_orderkey""".stripMargin)
    finally {
      s.catalog.dropTempView(s"graft_ho_$tag")
      s.catalog.dropTempView(s"graft_hl_$tag")
    }
  }

  /** TPC-H Q21's shape through the SQL front-end: DOUBLE-correlated
    * EXISTS + NOT EXISTS against the same fact table ("suppliers who
    * were the ONLY supplier to return items on a multi-supplier
    * order"; l_returnflag stands in for Q21's receipt>commit predicate
    * — the fixture has no receipt dates). Catalyst must plan BOTH
    * correlated subqueries as semi/anti equi-joins on l_orderkey —
    * three passes over lineitem, zero cartesian products — which the
    * spec plan-asserts. */
  val q_sql_double_exists: Q = (s, d) => {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    orders(s, d).createOrReplaceTempView(s"graft_do_$tag")
    lineitem(s, d).createOrReplaceTempView(s"graft_dl_$tag")
    supplier(s, d).createOrReplaceTempView(s"graft_ds_$tag")
    try s.sql(
      s"""SELECT s_name, COUNT(*) AS numwait
         |FROM graft_ds_$tag, graft_dl_$tag l1, graft_do_$tag
         |WHERE s_suppkey = l1.l_suppkey
         |  AND o_orderkey = l1.l_orderkey
         |  AND o_orderstatus = 'F'
         |  AND l1.l_returnflag = 'R'
         |  AND EXISTS (SELECT 1 FROM graft_dl_$tag l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM graft_dl_$tag l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey
         |                    AND l3.l_returnflag = 'R')
         |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)
    finally {
      s.catalog.dropTempView(s"graft_do_$tag")
      s.catalog.dropTempView(s"graft_dl_$tag")
      s.catalog.dropTempView(s"graft_ds_$tag")
    }
  }

  /** SHUFFLED HASH join — the third physical equi-join strategy next
    * to broadcast (q5's dims) and sort-merge (q_bucketed_join): both
    * sides shuffle on the key but the smaller builds an in-memory hash
    * map instead of sorting, skipping both sort passes. The right
    * 100 TB choice when one side is far smaller than the other yet too
    * big to broadcast. Plan-asserted ShuffledHashJoin in
    * RelationalQueriesSpec; hash-matched oracle. */
  val q_shuffle_hash_join: Q = (s, d) =>
    lineitem(s, d)
      .join(supplier(s, d).hint("shuffle_hash"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_cents"))
      .orderBy(col("s_nationkey"))

  /** Navigation window functions over a full-partition frame:
    * first/last/nth order per customer (orderdate with orderkey
    * tiebreak keeps both engines deterministic; `nth_value(2)` is NULL
    * for single-order customers — nullability crossed the oracle). */
  val q_window_first_last: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        last(col("o_orderkey")).over(w).as("last_ok"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
      .orderBy(col("o_orderkey"))
  }

  /** Per-group top-k, de-skewed: `l_returnflag` has only 3 distinct
    * values, so a single window over it would sort the whole fact table
    * inside 3 partitions. Phase 1 takes a local top-k per (group, salt)
    * — 32-way salted, so the big sort spreads over 96 partitions and
    * each emits ≤ k rows; phase 2 re-ranks the ≤ group×salt×k
    * survivors (tiny) exactly. Same answer, no unbounded skew. */
  val q_topk_per_group: Q = (s, d) => {
    val k = 3
    val salted = lineitem(s, d)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(32)))
    val w1 = Window.partitionBy(col("l_returnflag"), col("salt"))
      .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val local = salted
      .withColumn("rn1", row_number().over(w1))
      .filter(col("rn1") <= k)
    val w2 = Window.partitionBy(col("l_returnflag"))
      .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    local
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= k)
      .select(col("l_returnflag"), col("rn"), col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_returnflag"), col("rn"))
  }

  /** Global sort + limit (top 100 orders by value). */
  val q_sort_limit: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .orderBy(desc("price_cents"), col("o_orderkey"))
      .limit(100)

  // --------------------------------------------------------------- set ops

  val q_set_ops: Q = (s, d) => {
    val auto = customer(s, d).filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_nationkey"))
    val bld = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey"))
    val u = auto.union(bld).distinct().withColumn("op", lit("union"))
    val i = auto.intersect(bld).withColumn("op", lit("intersect"))
    val e = auto.except(bld).withColumn("op", lit("except"))
    u.unionByName(i).unionByName(e)
      .orderBy(col("op"), col("c_nationkey"))
  }

  /** MULTISET set ops — `intersectAll` / `exceptAll`, ANSI bag
    * semantics (min / truncated-difference of multiplicities), a
    * genuinely different physical operator from the DISTINCT forms in
    * [[q_set_ops]] (a count-carrying aggregate join instead of a
    * dedup). The nation-key multisets carry real duplicates (many
    * customers per nation), so multiplicities are load-bearing; the
    * result is re-aggregated to (value, multiplicity) so the hash
    * compare is order-free. */
  val q_set_ops_all: Q = (s, d) => {
    val auto = customer(s, d).filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_nationkey"))
    val bld = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey"))
    val i = auto.intersectAll(bld).withColumn("op", lit("intersect_all"))
    val e = auto.exceptAll(bld).withColumn("op", lit("except_all"))
    i.unionByName(e)
      .groupBy(col("op"), col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("op"), col("c_nationkey"))
  }

  // ------------------------------------------------------------ scalar fns

  /** String/date/math scalar functions in one projection. */
  val q_scalar_fns: Q = (s, d) =>
    customer(s, d)
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        substring(col("c_name"), 10, 9).as("cust_id_str"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("cust_id_num"),
        length(col("c_name")).as("name_len"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey").cast("string")).as("tag"),
        abs(round(col("c_acctbal") * 100)).cast("long").as("abs_bal_cents"),
        (col("c_custkey") % 7).as("bucket7"))
      .orderBy(col("c_custkey"))

  val q_date_fns: Q = (s, d) =>
    orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
      .orderBy(col("o_orderkey"))

  /** JSON extraction over events.props (from_json → typed column). */
  val q_json_events: Q = (s, d) =>
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
      .orderBy(col("event_type"))

  /** Map functions: `from_json` → MapType(String,String) over
    * events.props, map_concat with a literal map, map_keys/element_at/
    * size — the typed-map surface SURVEY §2 names (vs the string-only
    * get_json_object path in [[q_json_events]]). */
  val q_map_fns: Q = (s, d) => {
    import org.apache.spark.sql.types.{MapType, StringType}
    // Data-independent under ANSI mode: try_element_at is NULL on a
    // missing key (matching the oracle's json_extract_string), and the
    // map_concat input is pre-filtered so a source 'et' key can never
    // trip the EXCEPTION dedup policy.
    events(s, d)
      .select(col("event_type"),
        from_json(col("props"), MapType(StringType, StringType)).as("m"))
      .withColumn("m2", map_concat(
        map_filter(col("m"), (k, _) => k =!= "et"),
        map(lit("et"), col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        sum(try_element_at(col("m"), lit("k")).cast("long")).as("sum_k"),
        count(lit(1)).as("n"),
        min(array_join(array_sort(map_keys(col("m"))), ",")).as("keys_csv"),
        sum(size(col("m2"))).as("total_keys"))
      .orderBy(col("event_type"))
  }

  /** Array higher-order functions over the embedding column — size,
    * filter, sort/slice, reverse, and fold — the `functions.aggregate`
    * / `zip_with` surface the brief names for vector math, all narrow
    * codegen'd projections. Fractional outputs are integerized (e6) and
    * every float is widened to double BEFORE arithmetic with explicit
    * left-association, so DuckDB's list functions reproduce the exact
    * bits. The dot products ride the native [[graft.functions.DotProduct]]. */
  val q_array_fns: Q = (s, d) => {
    import graft.functions.VectorFunctions.{dot, normSq}
    val sorted = reverse(array_sort(col("embedding")))
    def de(c: Column): Column = c.cast("double")
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        size(col("embedding")).as("n_dims"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"),
        round(de(array_max(col("embedding"))) * 1e6).cast("long").as("max_e6"),
        round(de(array_min(col("embedding"))) * 1e6).cast("long").as("min_e6"),
        round((de(element_at(sorted, 1)) + de(element_at(sorted, 2)) +
          de(element_at(sorted, 3))) * 1e6).cast("long").as("top3_e6"),
        round(sqrt(normSq(col("embedding"))) * 1e6).cast("long").as("norm_e6"),
        round(dot(col("embedding"), reverse(col("embedding"))) * 1e6).cast("long")
          .as("revdot_e6"))
      .orderBy(col("vec_id"))
  }

  /** Supplier coverage: per-nation supplier stats + deterministic
    * top-balance supplier via a struct-max argmax (broadcast dim join,
    * one fact shuffle). */
  val q_supplier_stats: Q = (s, d) =>
    supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_supp"),
        cents(col("s_acctbal")).as("bal_cents"),
        max(struct(round(col("s_acctbal") * 100).cast("long").as("b"),
          col("s_suppkey").as("k"))).getField("k").as("top_suppkey"))
      .orderBy(col("n_name"))

  /** Bucketed CO-LOCATED join — the shuffle-elimination technique for
    * repeated fact-fact joins at 100 TB: both tables are written
    * `bucketBy(join key)` + `sortBy` once, after which EVERY join on
    * that key needs no Exchange and no Sort (the scan itself satisfies
    * the join's distribution+ordering requirements). Here the bucketed
    * copies are (re)written from the fixture, then joined; the plan
    * assertion in RelationalQueriesSpec proves the join subtree is
    * exchange-free. At 100 TB you pay the bucketed write once and
    * amortize it over every downstream join/aggregation on the key —
    * this is Spark's answer to the co-partitioned table layouts native
    * warehouses keep. Bucket count 8 fits the fixture; at scale it
    * rises with data volume (buckets ≈ target task count). */
  /** Bucketed-table prep, write-once per (session, fixture dir): the
    * layout is the pay-once artifact the join amortizes, so timing it
    * inside every q_bucketed_join run misrepresents the steady-state
    * cost (round-3 bench: 2.8 s of the query's 2.83 s was the write).
    * Table names carry the artifact dir's name so verify/bench/tests
    * hitting different SFs in one session each get their own copies. */
  private val bucketedPrepared = new graft.SessionCache.Artifact[(String, String)]("bucketed")

  private[ops] def bucketedTables(s: SparkSession, d: String): (String, String) =
    bucketedPrepared(s, d) { wh =>
      val tag = new java.io.File(wh).getName
      val (ot, lt) = (s"${tag}_orders", s"${tag}_lineitem")
      orders(s, d).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").saveAsTable(ot)
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").saveAsTable(lt)
      (ot, lt)
    }

  val q_bucketed_join: Q = (s, d) => {
    val (ordersB, lineitemB) = bucketedTables(s, d)
    // hint("merge"): at 100 TB neither fact side is broadcastable, and
    // SMJ-over-bucketed-scans is exactly what the layout exists for; at
    // toy fixture scale AQE would otherwise degrade the demo to a
    // broadcast join and never touch the co-location.
    s.table(lineitemB).hint("merge")
      .join(s.table(ordersB), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** Partitioned layout, write-once per (session, fixture dir) like
    * [[bucketedTables]]: `partitionBy(month)` is THE standard 100 TB
    * sink layout — every time-ranged query after it prunes to the
    * matching directories before any I/O happens. */
  private val partitionedPrepared = new graft.SessionCache.ArtifactDir("part_orders")

  private[graft] def partitionedOrdersPath(s: SparkSession, d: String): String =
    partitionedPrepared(s, d) { path =>
      orders(s, d)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("o_month")
        .option("compression", "snappy").parquet(path)
    }

  /** Partition-pruned scan over the `partitionBy(month)` layout: the
    * month filter is satisfied from DIRECTORY NAMES (plan-asserted
    * PartitionFilters in RelationalQueriesSpec) — at 100 TB the scan
    * opens ~1/80th of the files before reading a byte. The oracle
    * replays the filter over the original table, so the hash match
    * proves the partitioned write relocated every row correctly. */
  val q_partitioned_write: Q = (s, d) => {
    val path = partitionedOrdersPath(s, d)
    s.read.parquet(path)
      .filter(col("o_month") === "1995-03")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), cents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("o_orderstatus"))
  }

  /** DYNAMIC partition pruning over the same layout: the months to
    * scan are not a literal — they come from a JOIN against a filtered
    * dimension (the months in which anything shipped in spring 1995),
    * so static pruning can't fire. Spark plans a
    * `dynamicpruningexpression` on the fact scan instead: the dim side
    * executes first (it is broadcast anyway) and its month set prunes
    * the fact's directories AT RUNTIME before any fact I/O
    * (plan-asserted in RelationalQueriesSpec). At 100 TB this is the
    * difference between scanning 3 months and scanning 80 whenever the
    * partition predicate arrives through a star join rather than a
    * WHERE literal. */
  val q_dpp: Q = (s, d) => {
    val fact = s.read.parquet(partitionedOrdersPath(s, d))
    val dim = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-06-01").cast("timestamp"))
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("m")).distinct()
    fact.join(dim, col("o_month") === col("m"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n"), cents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("o_month"))
  }

  // ------------------------------------------------- write-audit-publish

  private val wapPrepared = new graft.SessionCache.ArtifactDir("wap")

  /** Write-once WAP table per (session, fixture dir): base = the
    * `l_orderkey % 3 = 0` slice at epoch 0, then TWO audited ingest
    * rounds through [[GovernedTable.writeAuditPublish]] — the clean
    * `% 3 = 1` slice (publishes as epoch 1) and the `% 3 = 2` slice
    * with PLANTED violations (`l_linenumber % 4 = 1` rows negated —
    * the audit predicate `cents_v < 0` catches exactly those, the
    * batch aborts, serving never sees it). Audit outcomes land in an
    * `auditlog` parquet — governance owes an audit trail. */
  private[graft] def wapTableDir(s: SparkSession, d: String): String =
    wapPrepared(s, d) { dir =>
      def slice(k: Int) = lineitem(s, d)
        .filter(col("l_orderkey") % 3 === k)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents_v"))
      GovernedTable.build(slice(0), dir)
      def audit(v: DataFrame): Long = v.filter(col("cents_v") < 0).count()
      val (v1, m1) = GovernedTable.writeAuditPublish(s, dir, slice(1))(audit)
      val bad = slice(2).withColumn("cents_v",
        when(col("l_linenumber") % 4 === 1, -col("cents_v"))
          .otherwise(col("cents_v")))
      val (v2, m2) = GovernedTable.writeAuditPublish(s, dir, bad)(audit)
      val spark = s
      import spark.implicits._
      Seq((1L, v1, m1.nonEmpty), (2L, v2, m2.nonEmpty))
        .toDF("attempt", "violations", "published")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/auditlog")
    }

  /** WRITE-AUDIT-PUBLISH witness — the lakehouse ingestion gate
    * ([[GovernedTable]]): the served table must hold EXACTLY base ∪
    * the clean batch (the dirty batch staged, audited, and aborted
    * without ever being visible), and the audit log must show the
    * clean round publishing with zero violations and the dirty round
    * refusing with the planted count. The DuckDB oracle replays the
    * whole protocol's OBSERVABLE outcome from the raw table: served
    * aggregate over the two clean slices, violation count from the
    * planted rule. The audit-log read is a 2-row bounded collect;
    * diagnostics ride as literal columns on the served aggregate.
    *
    * Scale shape: stage = batch write; audit = one predicate pass
    * with pushdown; publish/abort = metadata-only (rename + manifest
    * flip / recursive delete) — nothing rewrites or re-reads history,
    * and a refused batch costs its own write + audit, never a
    * rollback of serving state. */
  val q_wap_publish: Q = (s, d) => {
    val dir = wapTableDir(s, d)
    val log = s.read.parquet(s"$dir/auditlog").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val (gv, gp) = log(1L)
    val (bv, bp) = log(2L)
    GovernedTable.read(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents_v")).as("sum_cents"))
      .withColumn("good_violations", lit(gv))
      .withColumn("good_published", lit(gp))
      .withColumn("bad_violations", lit(bv))
      .withColumn("bad_published", lit(bp))
      .withColumn("n_epochs", lit(GovernedTable.open(dir).epoch + 1))
      .orderBy(col("l_returnflag"))
  }

  // ------------------------------------------------------ AQE skew join

  /** Conf clone for the skew demo, memoized per parent session (the
    * same no-global-mutation pattern as StreamingOps.streamSession):
    * skew detection thresholds are scaled DOWN to fixture bytes so
    * `OptimizeSkewedJoin` actually fires on a ~180 KB hot partition —
    * a production cluster keeps the 256 MB defaults and the identical
    * plan shape. Broadcast is disabled in the clone because skew
    * handling only applies to shuffle joins; at 100 TB neither fact
    * side would be broadcastable anyway, so this also makes the
    * fixture plan the production plan. */
  private val skewSession = new graft.SessionCache.PerSession({ s0 =>
    val c = s0.newSession()
    c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    c.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    c.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    c.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k")
    c.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    // AQE splits a skewed partition along MAP-output boundaries, so a
    // single-mapper scan (the fixture's one-row-group parquet file)
    // is unsplittable no matter how skewed. Shrink the input split
    // size so the [[skewInputPath]] copy scans as many mappers — the
    // shape a real cluster always has (thousands of mappers at
    // 100 TB).
    c.conf.set("spark.sql.files.maxPartitionBytes", "32k")
    c
  })

  /** Many-mapper lineitem copy for the skew demo, write-once per
    * (session, fixture dir) like [[bucketedTables]]: the fixture's
    * lineitem.parquet is ONE row group, so every row comes out of one
    * map task and AQE's map-range skew splitting has nothing to split.
    * The copy holds only the two columns the join needs, written with
    * tiny row groups so the clone's 32 KB input splits each carry real
    * rows — a mechanical LAYOUT change only (no values change; the
    * oracle reads the original table). */
  private val skewPrepared = new graft.SessionCache.ArtifactDir("skew_li")

  private def skewInputPath(s: SparkSession, d: String): String =
    skewPrepared(s, d) { path =>
      lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite")
        .option("parquet.block.size", (16 * 1024).toString)
        .option("parquet.page.size", (8 * 1024).toString)
        .parquet(path)
    }

  /** AQE skew-join: ~30 % of lineitem rows are REMAPPED onto one hot
    * orderkey (every key ending in 0/1/2 → key 1 — deterministic, so
    * the oracle replays it exactly), then fact-joined to orders. On a
    * static plan the hot key lands in ONE shuffle partition and that
    * single task straggles the whole stage — the classic 100 TB skew
    * failure. With AQE skew handling the runtime splits the oversized
    * partition into advisory-sized chunks, each joined against a
    * replicated copy of the matching orders rows
    * (`OptimizeSkewedJoin`; plan-asserted `skew=true` in
    * RelationalQueriesSpec). The hash-matched oracle proves splitting
    * changes the schedule, never the answer. */
  val q_skew_join: Q = (s, d) => {
    val ss = skewSession(s)
    val li = ss.read.parquet(skewInputPath(s, d)).select(
      when(col("l_orderkey") % 10 < 3, lit(1L))
        .otherwise(col("l_orderkey")).as("jk"),
      col("l_quantity"))
    li.hint("merge")
      .join(orders(ss, d).select(col("o_orderkey"), col("o_orderpriority")),
        col("jk") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Conf clone for the runtime-bloom-filter demo: broadcast disabled
    * (a broadcast join already prunes the probe side for free — the
    * bloom filter exists for the SMJ/shuffle regime where neither side
    * broadcasts), and the application-side scan threshold lowered so
    * the optimizer considers the fixture-sized scan (default 10 GB —
    * sized for real clusters). */
  private val bloomSession = new graft.SessionCache.PerSession({ s0 =>
    val c = s0.newSession()
    c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    c.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    c.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    c.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    c
  })

  /** Runtime bloom-filter semi-join reduction — the 100 TB shuffle
    * killer for selective dimension filters when NEITHER side
    * broadcasts: Catalyst builds a bloom filter over the filtered
    * build side (`bloom_filter_agg` subquery) and injects a
    * `bloom_filter_might_contain` predicate into the PROBE side's scan
    * stage, so most of the big table's rows drop before the exchange
    * instead of shuffling 100 TB to discard 97 % of it at the join.
    * False positives only cost wasted shuffle rows — the join itself
    * stays exact, so the oracle is the plain join SQL. The spec
    * asserts the filter is actually injected (and absent on the
    * default session). */
  val q_bloom_join: Q = (s, d) => {
    val ss = bloomSession(s)
    val prom = Tables.part(ss, d)
      .filter(col("p_type") === "PROMO" && col("p_size") >= 25)
      .select(col("p_partkey"), col("p_brand"))
    lineitem(ss, d).select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(prom, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty"),
        cents(col("l_extendedprice")).as("rev_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("p_brand"))
  }

  /** CASE WHEN + conditional aggregation (pivot-ish shape). */
  val q_conditional_agg: Q = (s, d) =>
    orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n_urgent"),
        sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)).as("n_low"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  // --------------------------------------------------------- sessionize

  /** Session gap: a new session starts after ≥ 12 h of user inactivity
    * (µs — the fixture's per-user event cadence has a ~7 h median gap,
    * so 12 h yields a genuine mix of multi-event and singleton
    * sessions rather than one session per event). */
  private val SessionGapUs = 43_200_000_000L

  /** Batch sessionization — the gap-based `session_window` complement
    * for historical (non-streaming) data, and the canonical
    * CONDITIONAL-CUMULATIVE-SUM shape: `lag` flags session starts,
    * a running `sum` over the flags numbers the sessions, and a final
    * per-session aggregate profiles them. Three window passes over the
    * SAME (user_id)-hash partitioning — Spark plans ONE exchange and
    * reuses it (the orderBy re-sorts inside partitions, no reshuffle).
    * Timestamps stay integer µs end-to-end, so the cross-engine
    * compare is exact. At 100 TB this shuffles each user's history
    * once; no state, no recursion — contrast `st_session`, which does
    * the same gap logic incrementally with watermarked state. */
  val q_sessionize: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
    ev.withColumn("prev", lag(col("t_us"), 1).over(w))
      .withColumn("is_new",
        (col("prev").isNull || col("t_us") - col("prev") > SessionGapUs).cast("long"))
      .withColumn("session_idx",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("t_us")).as("start_us"), max(col("t_us")).as("end_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  // -------------------------------------------------- moving average

  /** 7-day moving aggregate per user over DAILY totals with a true
    * RANGE frame (`rangeBetween(-6, 0)` on day number): on sparse
    * days a range frame covers the calendar window while a rows frame
    * would grab the last 7 OBSERVATIONS however far back they reach —
    * the distinction this query exists to pin. Emits the integer sum
    * and the in-window day count (avg = sum ÷ n for the reader) so
    * the cross-engine compare stays exact. Same one-exchange shape as
    * the other user_id window queries. */
  val q_moving_avg: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("day_no"))
      .agg(sum(round(col("value") * 100).cast("long")).as("day_cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_no"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("ma7_cents_sum", sum(col("day_cents")).over(w))
      .withColumn("ma7_n", count(lit(1)).over(w))
      .select(col("user_id"), col("day_no"), col("day_cents"),
        col("ma7_cents_sum"), col("ma7_n"))
      .orderBy(col("user_id"), col("day_no"))
  }

  // ------------------------------------------------ gap fill / resample

  /** Time-series resample + forward fill — regularize each user's
    * irregular event stream onto a daily grid over their own active
    * span, carrying the last observed value across gap days. The grid
    * comes from `sequence(first_day, last_day)` exploded per user (a
    * per-user span aggregate, NEVER a global calendar cross join);
    * per-day last value is `max(struct(t_us, event_id, cents)).cents`
    * — an associative reduce, deterministic because (user_id, ts) is
    * unique; the carry is `last(_, ignoreNulls).over(user window)`.
    * Grid rows per user are bounded by the time span, not the event
    * count, and all three passes share the user_id partitioning. Money
    * stays integer cents so the carried values compare exactly. */
  val q_gap_fill: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("t_us"), col("event_id"),
      to_date(col("ts")).as("day"),
      round(col("value") * 100).cast("long").as("cents"))
    val daily = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("t_us"), col("event_id"), col("cents"))).as("last"))
      .select(col("user_id"), col("day"), col("n_events"),
        col("last.cents").as("day_cents"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "day"), "left_outer")
      .withColumn("ff_cents", last(col("day_cents"), ignoreNulls = true).over(w))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"), col("ff_cents"))
      .orderBy(col("user_id"), col("day"))
  }

  // ------------------------------------------------ funnel / cohorts

  /** Conversion window of [[q_funnel]] — each stage must fire within
    * 12 h of the PREVIOUS stage (the standard product-analytics
    * semantics; unbounded windows are vacuous on this fixture, where
    * every user eventually does everything). Exact micros. */
  private val FunnelWindowUs = 43_200_000_000L

  /** ORDERED-STAGE CONVERSION FUNNEL — view → click → purchase, each
    * stage strictly after the previous and within [[FunnelWindowUs]]
    * of it. The warehouse-standard formulation: one keyed min-
    * aggregate per stage (first qualifying time), each stage joining
    * the previous stage's per-user timestamp back to the typed event
    * slice. Emits per stage the surviving user count and the EXACT
    * integer sum of seconds-from-first-view (latency analytics
    * without float drift).
    *
    * Scale shape: stage k is `events[type=k] ⋈ stage_{k-1}` on
    * user_id — every aggregate and join keys on user_id, so one
    * exchange per side and the per-stage work shrinks with the
    * funnel (stage k's build side is only stage k-1's survivors,
    * broadcastable once conversion bites). The type filter pushes to
    * the scan, so each pass reads one event-type slice of a
    * (user_id, type, ts) projection — never the full row. Funnel
    * depth = number of passes, the classic trade against the
    * sort-per-user walk (which serializes each user's whole history
    * into one task and dies on [[q_sessionize_skew]]'s bot user). */
  val q_funnel: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t_us"))
    def slice(t: String) = ev.filter(col("event_type") === t)
    val v = slice("view").groupBy(col("user_id")).agg(min(col("t_us")).as("tv"))
    val c = slice("click").join(v, "user_id")
      .filter(col("t_us") > col("tv") && col("t_us") <= col("tv") + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("t_us")).as("tc"), min(col("tv")).as("tv"))
    val p = slice("purchase").join(c, "user_id")
      .filter(col("t_us") > col("tc") && col("t_us") <= col("tc") + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("t_us")).as("tp"), min(col("tv")).as("tv"))
    def stage(n: Int, name: String, df: DataFrame, lat: Column) =
      df.agg(count(lit(1)).as("users"), coalesce(sum(lat), lit(0L)).as("sum_lat_secs"))
        .select(lit(n).as("stage"), lit(name).as("stage_name"),
          col("users"), col("sum_lat_secs"))
    // latency in whole seconds via exact integer `div` (no float lane)
    stage(1, "view", v, lit(0L))
      .unionByName(stage(2, "click", c, expr("(tc - tv) div 1000000")))
      .unionByName(stage(3, "purchase", p, expr("(tp - tv) div 1000000")))
      .orderBy(col("stage"))
  }

  /** COHORT RETENTION MATRIX — users cohorted by the Monday of their
    * first purchase, with retention measured as any-event activity in
    * each subsequent week: (cohort_week, week_offset, active_users).
    * The product-analytics companion of [[q_funnel]] (who converts →
    * do they stay). Both inputs aggregate on user_id — the cohort
    * assignment is a per-user min over the purchase slice, the
    * activity set is a per-(user, week) distinct — so the join is
    * co-partitioned and the final matrix groupBy runs over
    * cohort-weeks × offsets rows, thousands at most, regardless of
    * corpus size. Weeks are Monday-start in both engines
    * (`date_trunc('week')`), offsets exact integer day-diffs ÷ 7. */
  val q_cohort_retention: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val cohort = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    val activity = ev
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    cohort.join(activity, "user_id")
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast("long"))
      .filter(col("week_offset") >= 0)
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("active_users"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("active_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Chunk width of the skew-safe sessionize. MUST exceed
    * [[SessionGapUs]]: then an event-free chunk implies a gap longer
    * than the session gap, so sessions can only merge across the
    * boundary of ADJACENT non-empty chunks and the phase-2 interval
    * merge is complete. 2 days vs the 12 h gap. */
  private val SessionChunkUs = 172_800_000_000L

  /** Skew-safe sessionization — the window-family counterpart of
    * [[q_skew_join]]'s AQE demo. A plain `partitionBy(user_id)` window
    * serializes each user's whole history into one task; a bot user
    * with 10⁸ events becomes a straggler AQE cannot split (skew
    * handling only re-plans joins). This query PLANTS that skew —
    * ~30 % of all events are reassigned to one bot user (-1),
    * deterministically by `event_id % 10 < 3` — and sessionizes with
    * the two-phase chunked formulation:
    *
    *   1. local sessionize within (user_id, time-chunk): the same
    *      lag → flag → conditional-cumulative-sum shape as
    *      [[q_sessionize]], but partitioned by (user_id, chunk) so the
    *      bot's month splits over ~15 independent tasks, each
    *      reducing its events to per-session summary rows;
    *   2. merge across chunk boundaries per user: local sessions are
    *      intervals; next.start − prev.end ≤ gap merges them (only
    *      boundary-adjacent sessions can qualify — within a chunk
    *      locals are separated by > gap, and an empty chunk implies a
    *      gap > chunk > gap). This window runs on SESSION summaries,
    *      not events — the bot contributes O(chunks + sessions) rows,
    *      not 10⁸.
    *
    * Output is row-identical to the plain single-window sessionize of
    * the same skewed input (the spec asserts it; the DuckDB oracle
    * replays the plain form), so the hash match proves the chunked
    * decomposition exact — scan one task's worth of any user per
    * task, same answer. */
  val q_sessionize_skew: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"), col("event_id"))
      .withColumn("user_id",
        when(col("event_id") % 10 < 3, lit(-1L)).otherwise(col("user_id")))
    val chunked = ev.withColumn("chunk", floor(col("t_us") / SessionChunkUs))
    // phase 1: per-(user, chunk) local sessions
    val wLoc = Window.partitionBy(col("user_id"), col("chunk"))
      .orderBy(col("t_us"), col("event_id"))
    val locals = chunked
      .withColumn("prev", lag(col("t_us"), 1).over(wLoc))
      .withColumn("is_new",
        (col("prev").isNull || col("t_us") - col("prev") > SessionGapUs).cast("long"))
      .withColumn("loc_idx",
        sum(col("is_new")).over(wLoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("chunk"), col("loc_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("t_us")).as("start_us"), max(col("t_us")).as("end_us"))
    // phase 2: interval-merge boundary sessions per user (summary rows)
    val wMerge = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    val merged = locals
      .withColumn("prev_end", lag(col("end_us"), 1).over(wMerge))
      .withColumn("is_new",
        (col("prev_end").isNull || col("start_us") - col("prev_end") > SessionGapUs)
          .cast("long"))
      .withColumn("session_idx",
        sum(col("is_new")).over(wMerge.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(sum(col("n_events")).as("n_events"),
        min(col("start_us")).as("start_us"), max(col("end_us")).as("end_us"))
    merged.orderBy(col("user_id"), col("session_idx"))
  }

  // ------------------------------------------- incremental aggregation

  /** The fixture's last shipdate month — the "today's load" delta of
    * the incremental-maintenance demo (identical across all SFs). */
  private val MvCutoffMonth = "2001-11"

  private val mvStatePrepared = new graft.SessionCache.ArtifactDir("mv_state")

  /** Write-once materialized partial-aggregate state over every month
    * BEFORE the cutoff — the stored MV a production pipeline maintains
    * instead of rescanning history. Same memoized layout pattern as
    * [[partitionedOrdersPath]]. */
  private[ops] def mvStatePath(s: SparkSession, d: String): String =
    mvStatePrepared(s, d) { path =>
      val partials = monthlyPartials(lineitem(s, d))
      // Guard the cutoff against fixture drift: a regenerated lineitem
      // with ship months AFTER the cutoff would silently vanish from
      // both the stored state (< cutoff) and the delta (== cutoff).
      val maxMonth = partials.agg(max(col("m"))).head.getString(0)
      require(maxMonth <= MvCutoffMonth,
        s"fixture has ship month $maxMonth beyond MV cutoff $MvCutoffMonth — bump MvCutoffMonth")
      partials.filter(col("m") < MvCutoffMonth)
        .write.mode("overwrite").parquet(path)
    }

  /** Decomposable partial aggregates per (month, returnflag): sum,
    * sum, count — each mergeable by further summing. Integer cents /
    * rounded quantities keep the merge law exact in cross-engine
    * comparison. */
  private def monthlyPartials(li: DataFrame): DataFrame =
    li.withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("m"), col("l_returnflag"))
      .agg(cents(col("l_extendedprice")).as("rev_cents"),
        sum(round(col("l_quantity")).cast("long")).as("qty"),
        count(lit(1)).as("n"))

  /** Incremental aggregate maintenance: merge the STORED partial
    * states (all history before [[MvCutoffMonth]], read back from the
    * write-once MV layout — history is never rescanned) with a
    * freshly computed delta for the cutoff month, then reduce to the
    * final per-returnflag totals. The oracle aggregates the FULL base
    * table directly, so the hash match proves the merge law: partials
    * over a partition of the data, re-aggregated, equal the direct
    * aggregate. At 100 TB this is the difference between scanning one
    * day and scanning seven years — the decomposable-aggregate
    * contract (sum/count/min/max, avg as sum÷count) is what makes
    * every nightly-rollup pipeline incremental. */
  val q_incremental_agg: Q = (s, d) => {
    val old = s.read.parquet(mvStatePath(s, d))
    val delta = monthlyPartials(lineitem(s, d)).filter(col("m") === MvCutoffMonth)
    old.unionByName(delta)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("rev_cents")).as("rev_cents"), sum(col("qty")).as("qty"),
        sum(col("n")).as("n"))
      .orderBy(col("l_returnflag"))
  }

  private val mvStoreDirs = new graft.SessionCache.ArtifactDir("mvstore")

  /** Write-once durable-MV artifact per (session, fixture dir) for
    * [[q_mv_served]]/[[q_mv_asof]]: [[MvStore.build]] at epoch 0 over
    * all history BEFORE the cutoff month, then one
    * [[MvStore.refresh]] folding the cutoff month's delta to epoch 1
    * — the build-then-maintain lifecycle a nightly pipeline runs. */
  private[ops] def mvStoreDir(s: SparkSession, d: String): String =
    mvStoreDirs(s, d) { path =>
      val partials = monthlyPartials(lineitem(s, d)).cache()
      try {
        val maxMonth = partials.agg(max(col("m"))).head.getString(0)
        require(maxMonth <= MvCutoffMonth,
          s"fixture has ship month $maxMonth beyond MV cutoff $MvCutoffMonth — bump MvCutoffMonth")
        MvStore.build(partials.filter(col("m") < MvCutoffMonth), path,
          Seq("l_returnflag"), Seq("rev_cents", "qty", "n")): Unit
        MvStore.refresh(s, path, partials.filter(col("m") === MvCutoffMonth)): Unit
      } finally { partials.unpersist(); () }
    }

  /** The DURABLE incremental MV, served: per-returnflag totals read
    * from [[MvStore]]'s persisted partials — zero base-table jobs at
    * query time, across sessions. Hash-matching the SAME full-table
    * oracle as [[q_incremental_agg]] proves the artifact lifecycle
    * (build + one refresh commit) converges exactly to the direct
    * aggregate. */
  val q_mv_served: Q = (s, d) => {
    val dir = mvStoreDir(s, d)
    MvStore.serve(s, dir, MvStore.open(dir))
  }

  /** Time travel on the durable MV: serve AS OF epoch 0 — the view
    * BEFORE the cutoff month's refresh — through the immutable
    * snapshot manifest. The oracle aggregates only pre-cutoff base
    * rows, so the hash match proves refresh never mutated history
    * (the same immutability the evolve/upsert specs pin file-level,
    * here proven at the answer level). */
  val q_mv_asof: Q = (s, d) => {
    val dir = mvStoreDir(s, d)
    MvStore.serve(s, dir, MvStore.openAt(dir, 0L))
  }

  /** CHANGE DATA FEED off the durable MV: the per-flag deltas between
    * epoch 0 and epoch 1 — what a subscribed consumer applies to
    * follow the view without re-reading it. The only refresh between
    * those epochs folded in exactly the cutoff month, so the oracle is
    * the direct base-table aggregate over that month alone: a hash
    * match proves the feed carries the refresh's NET effect (keys +
    * signed agg deltas under the additive merge law) and nothing else.
    * I/O is change-proportional by construction — only buckets whose
    * manifest pointer moved are read ([[MvStore.changeFeed]]). */
  val q_mv_changefeed: Q = (s, d) => {
    val dir = mvStoreDir(s, d)
    MvStore.changeFeed(s, dir, 0L, 1L)
  }

  private val mvReshardDirs = new graft.SessionCache.ArtifactDir("mvreshard")

  /** Write-once RESHARDED MV artifact for [[q_mv_resharded]]: the full
    * history built at the default month-bucket fan-out, one refresh
    * (same lifecycle as [[mvStoreDir]]), then [[MvStore.reshard]]
    * re-hashes the partials to 4× the fan-out behind one flip — the
    * grow-path a view takes when accumulated months outgrow its birth
    * sizing. */
  private[ops] def mvReshardDir(s: SparkSession, d: String): String =
    mvReshardDirs(s, d) { path =>
      val partials = monthlyPartials(lineitem(s, d)).cache()
      try {
        val maxMonth = partials.agg(max(col("m"))).head.getString(0)
        MvStore.build(partials.filter(col("m") < maxMonth), path,
          Seq("l_returnflag"), Seq("rev_cents", "qty", "n")): Unit
        MvStore.refresh(s, path, partials.filter(col("m") === maxMonth)): Unit
        MvStore.reshard(s, path, MvStore.NumBuckets * 4): Unit
      } finally { partials.unpersist(); () }
    }

  /** The durable MV served AFTER A RESHARD to 4× the month-bucket
    * fan-out (one flip; partial rows re-hash on their stored month —
    * zero base-table jobs, nothing re-aggregated): hash-matching the
    * SAME full-table oracle as [[q_mv_served]] proves the re-layout
    * changed nothing observable. With this, all four bucketed stores
    * (text, dedup, ANN via rebalance, MV) carry their fan-out as a
    * persisted manifest parameter AND have a grow-path that re-shards
    * the artifact without recomputing it from base data. */
  val q_mv_resharded: Q = (s, d) => {
    val dir = mvReshardDir(s, d)
    MvStore.serve(s, dir, MvStore.open(dir))
  }

  private val mvDistinctDirs = new graft.SessionCache.ArtifactDir("mvdistinct")

  /** Write-once SKETCH-partial MV artifact: per-(month, event_type)
    * DataSketches HLL partials over user_id, built on pre-max months
    * and refreshed with the last month — the mergeable-state form of
    * COUNT(DISTINCT), the one aggregate summed longs cannot
    * incrementalize (the classic MV limitation; this store lifts it
    * by recording "hll" as the agg's merge kind in the manifest). */
  private[ops] def mvDistinctDir(s: SparkSession, d: String): String =
    mvDistinctDirs(s, d) { path =>
      val partials = Tables.events(s, d)
        .withColumn("m", date_format(col("ts"), "yyyy-MM"))
        .groupBy(col("m"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .cache()
      try {
        val maxMonth = partials.agg(max(col("m"))).head.getString(0)
        MvStore.build(partials.filter(col("m") < maxMonth), path,
          Seq("event_type"), Seq("sk"), kinds = Seq("hll")): Unit
        MvStore.refresh(s, path, partials.filter(col("m") === maxMonth)): Unit
      } finally { partials.unpersist(); () }
    }

  /** DISTINCT-COUNT MV, served: per-event-type distinct users
    * estimated from the PERSISTED sketch partials (build + one
    * refresh, zero base-table jobs at serve time). BOUND WITNESS —
    * HLL is approximate, so the hash-checked output is the exact
    * distinct count (recomputed independently by DuckDB) plus a flag
    * asserting the sketch-MV estimate lands within ±5 % (≈3σ at
    * lgConfigK=12); the spec additionally pins the merge law (union
    * of monthly partials estimates EXACTLY what one sketch over all
    * events estimates). */
  val q_mv_distinct: Q = (s, d) => {
    val dir = mvDistinctDir(s, d)
    val served = MvStore.serve(s, dir, MvStore.open(dir))
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("est"))
    val exact = Tables.events(s, d).groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    exact.join(broadcast(served), "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("est") - col("exact_users")) * lit(100)
          <= col("exact_users") * lit(5)).as("within_5pct"))
      .orderBy(col("event_type"))
  }

  private val mvChangedDirs = new graft.SessionCache.ArtifactDir("mvchanged")

  /** Write-once sketch-MV artifact with a PLANTED one-key delta for
    * [[q_mv_changed_keys]]: epoch 0 holds per-(month, event_type) HLL
    * partials over ALL events EXCEPT a late slice — the min
    * event_type's even-user events in the max month; epoch 1 refreshes
    * exactly that slice in. The delta therefore touches ONE bucket
    * (one month) that also carries every OTHER type's partials for
    * the months hashing there — the non-vacuous shape for
    * [[MvStore.changedKeys]]'s precision claim (bucket-level diffing
    * would name every type; value-level diffing must name one). */
  private[ops] def mvChangedDir(s: SparkSession, d: String): String =
    mvChangedDirs(s, d) { path =>
      val ev = Tables.events(s, d)
        .withColumn("m", date_format(col("ts"), "yyyy-MM"))
      val bounds = ev.agg(max(col("m")).as("mm"), min(col("event_type")).as("ct")).head
      val (maxM, cType) = (bounds.getString(0), bounds.getString(1))
      val isLate = col("m") === maxM && col("event_type") === cType &&
        col("user_id") % 2 === 0
      def partials(rows: DataFrame): DataFrame = rows
        .groupBy(col("m"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      MvStore.build(partials(ev.filter(!isLate)), path,
        Seq("event_type"), Seq("sk"), kinds = Seq("hll")): Unit
      MvStore.refresh(s, path, partials(ev.filter(isLate))): Unit
    }

  /** SKETCH-MV CHANGE CONSUMER — the stated alternative to a change
    * feed for views whose state has no subtraction ([[MvStore
    * .changeFeed]] refuses HLL views pointedly): a downstream copy at
    * epoch 0 follows the view to epoch 1 by asking
    * [[MvStore.changedKeys]] WHICH keys moved (change-bucket-pruned
    * reads, value-level diff) and re-serving exactly those, keeping
    * every other key's row untouched. The output certifies, per key:
    * `is_changed` (precision — only the planted late-delta key may
    * flag, though its month-bucket carries every key), and
    * `followed_ok` (the followed copy's estimate equals a full epoch-1
    * re-serve, key for key). Exact distinct counts come from DuckDB
    * independently; the ±5 % envelope pins the estimates. */
  val q_mv_changed_keys: Q = (s, d) => {
    val dir = mvChangedDir(s, d)
    val m1 = MvStore.open(dir)
    val changed = MvStore.changedKeys(s, dir, 0L, 1L)
    val e0 = MvStore.serve(s, dir, MvStore.openAt(dir, 0L))
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("est"))
    val reServed = MvStore.serve(s, dir, m1)
      .join(broadcast(changed), Seq("event_type"), "left_semi")
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("est"))
    val followed = e0.join(broadcast(changed), Seq("event_type"), "left_anti")
      .unionByName(reServed)
    val full = MvStore.serve(s, dir, m1)
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("est_full"))
    val exact = Tables.events(s, d).groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    exact
      .join(broadcast(followed), "event_type")
      .join(broadcast(full), "event_type")
      .join(broadcast(changed.withColumn("hit", lit(true))), Seq("event_type"), "left")
      .select(col("event_type"), col("exact_users"),
        coalesce(col("hit"), lit(false)).as("is_changed"),
        (col("est") === col("est_full")).as("followed_ok"),
        (abs(col("est_full") - col("exact_users")) * lit(100)
          <= col("exact_users") * lit(5)).as("within_5pct"))
      .orderBy(col("event_type"))
  }

  /** Correction rule for [[q_mv_retract]]: late-arriving re-statements
    * hit rows with `l_orderkey % 97 == 0` in the two months before the
    * cutoff (corrections are temporally local in production — that
    * locality is what keeps a retraction refresh delta-proportional),
    * bumping the stated quantity by one. */
  private val MvRetractMod = 97
  private val MvRetractMonths = Seq("2001-09", "2001-10")

  private val mvRetractDirs = new graft.SessionCache.ArtifactDir("mvretract")

  /** Write-once RETRACTION artifact: the full-history MV at epoch 0,
    * then one refresh whose delta carries the corrections as
    * retraction pairs — the OLD partials NEGATED plus the corrected
    * partials — so the additive merge law applies corrections with
    * the same machinery as inserts. This is CDC-driven MV
    * maintenance: a changelog's (before, after) images become
    * (−partial(before), +partial(after)). */
  private[ops] def mvRetractDir(s: SparkSession, d: String): String =
    mvRetractDirs(s, d) { path =>
      val li = lineitem(s, d)
      MvStore.build(monthlyPartials(li), path,
        Seq("l_returnflag"), Seq("rev_cents", "qty", "n")): Unit
      val affected = li
        .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
        .filter(col("l_orderkey") % MvRetractMod === 0 &&
          col("m").isin(MvRetractMonths: _*))
        .drop("m")
      val negOld = monthlyPartials(affected)
        .select(col("m"), col("l_returnflag"), (-col("rev_cents")).as("rev_cents"),
          (-col("qty")).as("qty"), (-col("n")).as("n"))
      val addNew = monthlyPartials(
        affected.withColumn("l_quantity", col("l_quantity") + 1))
      MvStore.refresh(s, path, negOld.unionByName(addNew)): Unit
    }

  /** MV RETRACTIONS: corrections applied to the durable view as
    * negative partials — hash-matching a direct aggregate over the
    * CORRECTED base table proves the (−before, +after) changelog
    * encoding converges exactly, the capability that lets a 100 TB
    * nightly MV consume an upsert/CDC feed instead of rebuilding
    * when facts are re-stated. */
  val q_mv_retract: Q = (s, d) => {
    val dir = mvRetractDir(s, d)
    MvStore.serve(s, dir, MvStore.open(dir))
  }

  /** Delta predicates of [[q_mv_join_delta]] — deliberately
    * INDEPENDENT (mod 7 on orders, mod 5 on a different key mix for
    * lineitem) so all four join quadrants (old×old, Δ×old, old×Δ,
    * Δ×Δ) are non-empty and every term of the delta algebra is
    * exercised (spec-pinned). */
  private def ordersIsDelta: Column = col("o_orderkey") % 7 === 0
  private def lineitemIsDelta: Column =
    (col("l_orderkey") + col("l_linenumber")) % 5 === 0

  /** JOIN-MV DELTA MAINTENANCE — the two-table member of the MV
    * family. The view is an aggregate over a JOIN,
    * `revenue per (o_orderpriority, ship month) from lineitem ⋈
    * orders`, and BOTH base tables receive a delta. Instead of
    * rebuilding, the refresh computes the three delta-join terms of
    *
    *   (L ∪ ΔL) ⋈ (O ∪ ΔO) = L⋈O ∪ ΔL⋈O ∪ L⋈ΔO ∪ ΔL⋈ΔO
    *
    * as partials and folds them into the old view with the SAME
    * additive merge law as [[q_mv_retract]]'s retractions.
    * Hash-matching the direct aggregate over the full join proves
    * the algebra converges exactly — the capability that keeps a
    * denormalized 100 TB MV's nightly refresh proportional to the
    * day's deltas on EITHER side, not to the join.
    *
    * Scale shape: each delta term joins a delta-sized side against a
    * base table on the join key (orderkey) — co-partitioned shuffles
    * whose output is delta-proportional, with the delta side
    * broadcastable when small; the old view is never recomputed, and
    * the final merge groups over (priority, month) — bounded by the
    * key-space, not the fact tables. In the durable form the merge
    * republishes only the months the deltas touch (the [[MvStore]]
    * month-bucket argument, proven over inserts by `q_mv_served` and
    * retractions by `q_mv_retract`); here the algebra itself is
    * under test, in-session, against an oracle that never saw the
    * decomposition. */
  /** Monthly partials of the join view — shared by the in-session
    * algebra proof ([[q_mv_join_delta]]) and the durable form
    * ([[q_mv_join_served]]) so there is exactly one definition of
    * what a join-MV partial is. */
  private def joinMvPartials(l: DataFrame, o: DataFrame): DataFrame =
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("m"),
        col("o_orderpriority"))
      .agg(cents(col("l_extendedprice")).as("rev_cents"),
        count(lit(1)).as("n"))

  private def joinMvSides(s: SparkSession, d: String): (DataFrame, DataFrame) = (
    lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      col("l_shipdate"), col("l_extendedprice"), lineitemIsDelta.as("l_delta")),
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), ordersIsDelta.as("o_delta")))

  val q_mv_join_delta: Q = (s, d) => {
    val (li, ord) = joinMvSides(s, d)
    val lOld = li.filter(!col("l_delta")); val lNew = li.filter(col("l_delta"))
    val oOld = ord.filter(!col("o_delta")); val oNew = ord.filter(col("o_delta"))
    val oldView = joinMvPartials(lOld, oOld)
    val deltas = joinMvPartials(lNew, oOld)
      .unionByName(joinMvPartials(lOld, oNew))
      .unionByName(joinMvPartials(lNew, oNew))
    oldView.unionByName(deltas)
      .groupBy(col("o_orderpriority"), col("m"))
      .agg(sum(col("rev_cents")).as("rev_cents"), sum(col("n")).as("n"))
      .orderBy(col("o_orderpriority"), col("m"))
  }

  private val mvJoinDirs = new graft.SessionCache.ArtifactDir("mvjoin")

  /** Write-once DURABLE join-MV: epoch 0 holds the old-quadrant view,
    * one refresh folds the three delta-join terms — possible at all
    * because [[MvStore]]'s manifest now carries the view definition
    * (keys `o_orderpriority`, aggs `rev_cents, n`) instead of
    * hardcoding the single-table view's schema. */
  private[ops] def mvJoinDir(s: SparkSession, d: String): String =
    mvJoinDirs(s, d) { path =>
      val (li, ord) = joinMvSides(s, d)
      val lOld = li.filter(!col("l_delta")); val lNew = li.filter(col("l_delta"))
      val oOld = ord.filter(!col("o_delta")); val oNew = ord.filter(col("o_delta"))
      MvStore.build(joinMvPartials(lOld, oOld), path,
        Seq("o_orderpriority"), Seq("rev_cents", "n")): Unit
      val deltas = joinMvPartials(lNew, oOld)
        .unionByName(joinMvPartials(lOld, oNew))
        .unionByName(joinMvPartials(lNew, oNew))
      MvStore.refresh(s, path, deltas): Unit
    }

  /** The JOIN-MV, DURABLE AND SERVED: the [[q_mv_join_delta]] algebra
    * maintained in the schema-driven [[MvStore]] artifact and read
    * back with zero base-table jobs — proving the store's manifest-
    * recorded view definition round-trips a join-shaped view through
    * build → delta refresh → cross-consumer serve. Hash-matches the
    * direct full-join aggregate. */
  val q_mv_join_served: Q = (s, d) => {
    val dir = mvJoinDir(s, d)
    MvStore.serve(s, dir, MvStore.open(dir))
  }

  /** Rows whose planted-null rule fires in [[q_table_profile]] —
    * `l_orderkey % 13 == 0` blanks the derived cents column so the
    * null-counting path is non-vacuous on a fixture with no nulls. */
  private val ProfileNullMod = 13

  /** EQUI-DEPTH HISTOGRAM construction — the CBO histogram stats pass
    * ([[q_table_profile]] collects ndv/null/min/max; selectivity
    * estimation additionally needs distribution boundaries). Exact
    * quartile boundaries per column, computed WITHOUT a corpus sort:
    * one `stack` unpivot → one groupBy((col, v)) with map-side combine
    * (the only corpus-sized exchange), then the cumulative-count walk
    * runs on the GROUPED table — ndv-bounded rows, which is why the
    * witnessed columns are bounded-cardinality (qty ≤ 50 values,
    * linenumber ≤ 7, a price BAND rather than raw cents; the
    * unbounded-ndv production recipe is band-first-then-walk, shown
    * here literally). Boundary definition is the integer-exact
    * lower-bound quantile — smallest v with cum ≥ ⌈q·n⌉, ceilings as
    * `(a + b − 1) DIV b` — so both engines agree to the bit with no
    * interpolation. Nulls are planted on the band column
    * (`l_orderkey % 13`, the [[q_table_profile]] rule) and excluded
    * from the walk but counted, pinning the null path. */
  val q_equidepth_hist: Q = (s, d) => {
    val base = lineitem(s, d).select(
      round(col("l_quantity")).cast("long").as("qty"),
      col("l_linenumber").cast("long").as("ln"),
      when(col("l_orderkey") % 13 === 0, lit(null).cast("long"))
        .otherwise(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT) DIV 100000"))
        .as("band"))
    val long3 = base.select(
      expr("stack(3, 'qty', qty, 'ln', ln, 'band', band) AS (col_name, v)"))
    val g = long3.groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("cnt"))
    val perCol = g.groupBy(col("col_name")).agg(
      sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)).as("n_nonnull"),
      sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_null"),
      count(when(col("v").isNotNull, lit(1))).as("ndv"),
      min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    val w = Window.partitionBy(col("col_name")).orderBy(col("v"))
    val cum = g.filter(col("v").isNotNull)
      .withColumn("cum", sum(col("cnt")).over(w))
      .join(perCol.select(col("col_name"), col("n_nonnull")), "col_name")
    val qs = cum.groupBy(col("col_name")).agg(
      min(when(col("cum") >= expr("(n_nonnull + 3) DIV 4"), col("v"))).as("p25"),
      min(when(col("cum") >= expr("(n_nonnull + 1) DIV 2"), col("v"))).as("p50"),
      min(when(col("cum") >= expr("(3 * n_nonnull + 3) DIV 4"), col("v"))).as("p75"))
    perCol.join(qs, "col_name")
      .select(col("col_name"), col("n_nonnull"), col("n_null"), col("ndv"),
        col("min_v"), col("max_v"), col("p25"), col("p50"), col("p75"))
      .orderBy(col("col_name"))
  }

  /** ANALYZE-style table profiling — the stats-collection pass every
    * engine runs before cost-based planning and every data team runs
    * as a freshness/drift check: per column, row count, null count,
    * exact distinct count, and min/max (rendered to strings so one
    * tidy (col_name, stat) relation covers heterogeneous types; dates
    * go through DATE and doubles through integer cents so the
    * rendering is engine-exact). Nulls are PLANTED deterministically
    * (see [[ProfileNullMod]]) and both engines replay the rule.
    *
    * Scale shape: one two-phase aggregation PER COLUMN — groupBy(col)
    * with map-side partial counts, then a second partial-merged pass
    * reducing the distinct groups to (n_rows, n_null, n_distinct,
    * min, max) — unioned into the tidy relation. Parquet column
    * pruning means the five "scans" read exactly the same bytes as
    * one five-column scan, and every stage is parallel with map-side
    * combine. The previous single-pass formulation (one agg with five
    * `count_distinct`s) planned as Expand (#cols × rows) feeding ONE
    * global aggregate — every expanded row funneled through a single
    * final reducer, 4.6× slower cold and ~85× warm at sf0.1 despite
    * "scanning once". At 100 TB the exact distinct would usually
    * relax to `approx_count_distinct` (one HLL++ sketch per column —
    * [[q_approx_distinct]] proves that machinery); exact is kept here
    * so the oracle can hash-match. */
  val q_table_profile: Q = (s, d) => {
    val li = lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      col("l_shipdate").cast("date").as("ship_day"),
      when(col("l_orderkey") % ProfileNullMod === 0, lit(null))
        .otherwise(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
    def profile(c: String) = li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      .agg(lit(c).as("col_name"),
        sum(col("cnt")).as("n_rows"),
        sum(when(col(c).isNull, col("cnt")).otherwise(0L)).as("n_null"),
        sum(when(col(c).isNull, 0L).otherwise(1L)).as("n_distinct"),
        min(col(c)).cast("string").as("min_s"),
        max(col(c)).cast("string").as("max_s"))
    val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "ship_day", "qty_cents")
    cols.map(profile).reduce(_ unionByName _)
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_s"), col("max_s"))
      .orderBy(col("col_name"))
  }

  /** Modulus planting referential-integrity violations in
    * [[q_dq_checks]]: rows with `l_orderkey % 7919 == 0` probe
    * `−l_orderkey − 1`, strictly negative where every `o_orderkey` is
    * ≥ 0 — guaranteed deterministic orphans at every SF (the fixture's
    * orderkeys are DENSE 0..max, so probing key+1 would find a match). */
  private val DqRiMod = 7919

  /** Data-quality constraint checking — the Deequ/dbt-tests pass every
    * production table runs before publishing: per rule, rows checked,
    * violation count, and a pass flag. Five rule families over
    * lineitem ⋈ orders; four violate via DETERMINISTIC plants (same
    * technique as [[q_table_profile]]'s nulls, replayed by the
    * oracle), and one — uniqueness — fails NATURALLY:
    *
    *   - `pk_unique`: (l_orderkey, l_linenumber) uniqueness —
    *     violations = Σ(group − 1) over duplicate groups. The fixture
    *     genuinely carries ~24 % duplicate pairs, exactly the surprise
    *     this pass exists to catch.
    *   - `ri_orders`: referential integrity lineitem → orders with
    *     [[DqRiMod]]-planted negative probes — violations counted via
    *     LEFT ANTI join (broadcast-able dimension at fixture scale;
    *     shuffle-hash on keys at 100 TB).
    *   - `qty_range`: numeric range 1 ≤ l_quantity ≤ 50 with a planted
    *     +100 shift.
    *   - `flag_domain`: l_returnflag ∈ {A, N, R} with a planted 'X'.
    *   - `ship_not_null`: required-column null rate with
    *     [[ProfileNullMod]]-planted nulls.
    *
    * Scale shape: the three scan rules (range/domain/null) fold into
    * ONE conditional aggregate over a single lineitem pass, unpivoted
    * into tidy rows by a generator over the 1-row result (so the plan
    * physically scans once — not a union of per-rule selects that
    * re-instantiate the aggregate); uniqueness is a two-phase groupBy
    * like [[q_table_profile]]'s NDV; RI is one join-aggregate.
    * Nothing quadratic, nothing collected. */
  val q_dq_checks: Q = (s, d) => {
    // deterministic violation plants, replayed verbatim by the oracle
    val planted = lineitem(s, d).select(
      col("l_orderkey"),
      col("l_linenumber"),
      when(col("l_orderkey") % DqRiMod === 0, -col("l_orderkey") - 1)
        .otherwise(col("l_orderkey")).as("ri_key"),
      when(col("l_orderkey") % 101 === 0, col("l_quantity") + 100)
        .otherwise(col("l_quantity")).as("qty"),
      when(col("l_orderkey") % 103 === 0, lit("X"))
        .otherwise(col("l_returnflag")).as("flag"),
      when(col("l_orderkey") % ProfileNullMod === 0, lit(null))
        .otherwise(col("l_shipdate")).as("ship"))
    def rule(name: String, checked: Column, violations: Column) =
      Seq(lit(name).as("rule"), checked.as("n_checked"),
        violations.as("n_violations"), (violations === 0L).as("pass"))
    // scan rules: one conditional aggregate, one pass — then UNPIVOTED
    // with a generator over the single 1-row result. (A select-per-rule
    // union would re-instantiate the aggregate subtree per branch and
    // could scan lineitem three times unless exchange reuse happens to
    // kick in; explode keeps the plan physically single-scan.)
    val scanTidy = planted.agg(
        count(lit(1)).as("n_checked"),
        sum(when(col("qty") < 1 || col("qty") > 50, 1L).otherwise(0L)).as("v_range"),
        sum(when(!col("flag").isin("A", "N", "R"), 1L).otherwise(0L)).as("v_domain"),
        sum(when(col("ship").isNull, 1L).otherwise(0L)).as("v_null"))
      .select(explode(array(
        struct(lit("qty_range").as("rule"), col("n_checked"), col("v_range").as("n_violations")),
        struct(lit("flag_domain").as("rule"), col("n_checked"), col("v_domain").as("n_violations")),
        struct(lit("ship_not_null").as("rule"), col("n_checked"), col("v_null").as("n_violations"))
      )).as("r"))
      .select(col("r.rule"), col("r.n_checked"), col("r.n_violations"),
        (col("r.n_violations") === 0L).as("pass"))
    // uniqueness: two-phase groupBy, violations = Σ(cnt − 1)
    val uniq = planted.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_checked"),
        sum(col("cnt") - 1L).as("v"))
      .select(rule("pk_unique", col("n_checked"), col("v")): _*)
    // referential integrity: one LEFT join against the (unique) orders
    // key column, orphans counted in the same aggregate as n_checked —
    // no separate count pass, no cross join of the two 1-row results
    val ri = planted.join(orders(s, d).select(col("o_orderkey")),
        planted("ri_key") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v"))
      .select(rule("ri_orders", col("n_checked"), col("v")): _*)
    scanTidy.unionByName(uniq).unionByName(ri).orderBy(col("rule"))
  }

  // ------------------------------------- statistical aggregates (r10)

  /** Pearson correlation / covariance / stddev / regression slope per
    * group, computed from EXACT integer co-moments: one pass collects
    * n, Σx, Σy, Σxy, Σx², Σy² as DECIMAL(38,0) sums (order-independent,
    * overflow-free — Σy² ≈ 6·10¹⁹ exceeds Int64 at sf0.1), then each
    * statistic is a fixed IEEE expression over those exact integers, so
    * Spark and DuckDB (HUGEINT side) agree bit-for-bit — the hash-exact
    * way to ship corr at 100 TB, where the naive float accumulation is
    * partition-order-dependent and never reproduces. The co-moment
    * vector is also MERGEABLE (sums), i.e. incremental-MV-compatible,
    * unlike a float corr state. Spark's native `corr` runs alongside
    * and must land within 1e-6 of the exact value (witness flag). */
  val q_corr_stats: Q = (s, d) => {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = lineitem(s, d)
      .select(col("l_returnflag"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"),
        corr(col("x").cast("double"), col("y").cast("double")).as("corr_native"))
    val nD = col("n").cast(dec)
    val numXy = (nD * col("sxy") - col("sx") * col("sy")).as("num_xy")
    val numXx = (nD * col("sxx") - col("sx") * col("sx")).as("num_xx")
    val numYy = (nD * col("syy") - col("sy") * col("sy")).as("num_yy")
    val corrExact = col("num_xy").cast("double") /
      sqrt(col("num_xx").cast("double") * col("num_yy").cast("double"))
    // n(n-1) through the SAME DECIMAL(38,0) lane as the co-moments —
    // Long n*(n-1) overflows past n ≈ 3.04e9 rows per group, which a
    // 100 TB fact table reaches; decimal holds to n ≈ 1.7e19
    val nn1 = (col("n").cast(dec) * (col("n").cast(dec) - lit(1))).cast("double")
    g.select(col("l_returnflag"), col("n"), col("corr_native"),
        numXy, numXx, numYy)
      .select(
        col("l_returnflag"), col("n"),
        round(corrExact, 6).as("corr_qty_price"),
        round(col("num_xy").cast("double") / nn1, 4).as("covar_samp"),
        round(sqrt(col("num_yy").cast("double") / nn1), 4).as("stddev_price_cents"),
        round(col("num_xy").cast("double") / col("num_xx").cast("double"), 6)
          .as("slope_cents_per_qty"),
        (abs(col("corr_native") - corrExact) < 1e-6).as("native_corr_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q2's argmin-join shape: the rows achieving a per-group
    * minimum, TIES KEPT (contrast [[q_supplier_stats]]' single-winner
    * struct-max): cheapest supplier(s) per large part. The part filter
    * is applied FIRST and semi-joined into the fact before the argmin —
    * legal because the extremum is per-part — so at 100 TB the min
    * aggregate runs over the filtered subset, not the whole fact. The
    * min table is one row per part (AQE broadcasts it when small);
    * equality join back keeps every tied supplier. */
  val q2_min_cost_supplier: Q = (s, d) => {
    val bigParts = part(s, d).filter(col("p_size") >= 40)
    val li = lineitem(s, d)
      .join(bigParts.select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
    val mins = li.groupBy(col("l_partkey").as("mk"))
      .agg(min(col("price_cents")).as("min_cents"))
    li.join(mins, col("l_partkey") === col("mk") &&
        col("price_cents") === col("min_cents"))
      .select(col("l_partkey"), col("l_suppkey"), col("min_cents"))
      .distinct()
      .join(bigParts, col("l_partkey") === col("p_partkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
        col("min_cents"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  /** TPC-H Q10 shape: revenue lost to returns per customer over a
    * quarter-window — fact⋈fact shuffle join, scaling-dim join
    * (customer, AQE-decided), fixed-dim broadcast (nation), group on
    * customer attributes, deterministic top-20 (revenue desc, custkey
    * tiebreak). The returnflag + date filters push to the scans. */
  val q10_returned_revenue: Q = (s, d) => {
    val l = lineitem(s, d).filter(col("l_returnflag") === "R")
    val o = orders(s, d).filter(
      col("o_orderdate") >= lit("1995-07-01").cast("timestamp") &&
      col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_cents"))
      .orderBy(desc("rev_cents"), col("c_custkey"))
      .limit(20)
  }

  /** UNPIVOT (wide → long), the inverse of [[q_pivot]]: the per-status
    * priority counts are pivoted wide, then melted back with
    * `Dataset.unpivot` — one narrow projection, no shuffle beyond the
    * pivot's own aggregate, zero-cells preserved. Round-tripping
    * through pivot∘unpivot against a plain GROUP BY oracle (grid
    * completed with zeros) proves both directions exact. */
  val q_unpivot: Q = (s, d) => {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val safe = prios.map(p => "p" + p.charAt(0))
    val wide = orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
      .select(col("o_orderstatus") +:
        prios.zip(safe).map { case (p, a) => coalesce(wide_col(p), lit(0L)).as(a) }: _*)
    val backToName = map(safe.zip(prios).flatMap { case (a, p) => Seq(lit(a), lit(p)) }: _*)
    wide.unpivot(Array(col("o_orderstatus")), safe.map(col).toArray, "pcol", "n")
      .select(col("o_orderstatus"),
        element_at(backToName, col("pcol")).as("priority"), col("n"))
      .orderBy(col("o_orderstatus"), col("priority"))
  }

  /** Pivot output columns are named by the raw priority values, which
    * contain `-`/space — resolve them as literal names, not parsed
    * attribute paths. */
  private def wide_col(name: String): Column = col(s"`$name`")

  /** Exponentially-weighted smoothing of a monthly revenue series —
    * the time-series operator (EWMA, α=½, horizon truncated at 8 taps)
    * kept HASH-EXACT: the weighted numerator Σ_{k≤K} 2^{7−k}·x_{t−k}
    * and denominator 2^8 − 2^{7−K} are pure Int64 arithmetic over lag()
    * taps, so both engines agree bit-for-bit (a pow()-based infinite-
    * memory EWMA is float-path and engine-dependent). The 8-tap window
    * is one pass over each partition's sort — same cost shape as any
    * ROWS frame; series count scales with group cardinality, length
    * with months, both fine at 100 TB. */
  val q_ewma_smooth: Q = (s, d) => {
    val monthly = lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM").as("m"))
      .agg(cents(col("l_extendedprice")).as("rev_cents"))
    val w = Window.partitionBy(col("l_returnflag"), col("l_linestatus"))
      .orderBy(col("m"))
    val num = (0 to 7).map { k =>
      val tap = if (k == 0) col("rev_cents")
                else coalesce(lag(col("rev_cents"), k).over(w), lit(0L))
      lit(1L << (7 - k)) * tap
    }.reduce(_ + _)
    val kAvail = least(row_number().over(w) - 1, lit(7))
    monthly
      .withColumn("ewma_num", num)
      .withColumn("ewma_den",
        lit(256L) - pow(lit(2.0), (lit(7) - kAvail).cast("double")).cast("long"))
      .withColumn("n_taps", (kAvail + 1).cast("long"))
      .withColumn("smoothed_cents",
        round(col("ewma_num").cast("double") / col("ewma_den").cast("double"))
          .cast("long"))
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("m"))
  }

  /** Windowed DISTINCT count — running number of distinct event types
    * each user has touched, a stream-profile staple Spark's window
    * functions don't support directly (no DISTINCT in window
    * aggregates). Decomposed exactly: a first-occurrence flag
    * (row_number = 1 over (user, type)) summed over the user's ordered
    * history. Two window passes, both partition-local after one
    * shuffle on user_id; nothing holds a distinct set per row — the
    * trick is what makes windowed distinct viable at 100 TB. */
  val q_window_cum_distinct: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_id"), col("event_type"))
    val firstW = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t_us"), col("event_id"))
    val runW = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("first_of_type",
        when(row_number().over(firstW) === 1, 1L).otherwise(0L))
      .withColumn("cum_distinct_types", sum(col("first_of_type")).over(runW))
      .select(col("user_id"), col("t_us"), col("event_id"),
        col("cum_distinct_types"))
      .orderBy(col("user_id"), col("t_us"), col("event_id"))
  }

  /** DuckDB twin of [[q_dq_checks]] over the same planted relation. */
  private def dqChecksOracle: String =
    s"""WITH planted AS (
       |  SELECT l_orderkey, l_linenumber,
       |    CASE WHEN l_orderkey % $DqRiMod = 0 THEN -l_orderkey - 1
       |         ELSE l_orderkey END AS ri_key,
       |    CASE WHEN l_orderkey % 101 = 0 THEN l_quantity + 100
       |         ELSE l_quantity END AS qty,
       |    CASE WHEN l_orderkey % 103 = 0 THEN 'X'
       |         ELSE l_returnflag END AS flag,
       |    CASE WHEN l_orderkey % $ProfileNullMod = 0 THEN NULL
       |         ELSE l_shipdate END AS ship
       |  FROM lineitem),
       |scan AS (SELECT COUNT(1) AS n_checked,
       |    CAST(SUM(CASE WHEN qty < 1 OR qty > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
       |    CAST(SUM(CASE WHEN flag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS v_domain,
       |    CAST(SUM(CASE WHEN ship IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null
       |  FROM planted),
       |uniq AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_checked,
       |    CAST(SUM(cnt - 1) AS BIGINT) AS v
       |  FROM (SELECT COUNT(1) AS cnt FROM planted GROUP BY l_orderkey, l_linenumber)),
       |ri AS (SELECT (SELECT COUNT(1) FROM planted) AS n_checked,
       |    CAST((SELECT COUNT(1) FROM planted
       |          WHERE ri_key NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT) AS v)
       |SELECT * FROM (
       |  SELECT 'qty_range' AS rule, n_checked, v_range AS n_violations,
       |    v_range = 0 AS pass FROM scan
       |  UNION ALL SELECT 'flag_domain', n_checked, v_domain, v_domain = 0 FROM scan
       |  UNION ALL SELECT 'ship_not_null', n_checked, v_null, v_null = 0 FROM scan
       |  UNION ALL SELECT 'pk_unique', n_checked, v, v = 0 FROM uniq
       |  UNION ALL SELECT 'ri_orders', n_checked, v, v = 0 FROM ri)
       |ORDER BY rule""".stripMargin

  /** DuckDB twin of [[q_table_profile]]: one UNION ALL block per
    * profiled column over the same planted-null projection. */
  private def tableProfileOracle: String = {
    val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "ship_day", "qty_cents")
    val blocks = cols.map { c =>
      s"""SELECT '$c' AS col_name, n.n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_s, CAST(MAX($c) AS VARCHAR) AS max_s
         |FROM t, n GROUP BY n.n_rows""".stripMargin
    }
    s"""WITH t AS (SELECT l_orderkey, l_linenumber, l_returnflag,
       |             CAST(l_shipdate AS DATE) AS ship_day,
       |             CASE WHEN l_orderkey % $ProfileNullMod = 0 THEN NULL
       |                  ELSE CAST(ROUND(l_quantity * 100) AS BIGINT) END AS qty_cents
       |           FROM lineitem),
       |n AS (SELECT COUNT(*) AS n_rows FROM t)
       |SELECT * FROM (${blocks.mkString("\n UNION ALL \n")})
       |ORDER BY col_name""".stripMargin
  }

  // ----------------------------- TPC-H long tail (SQL front-end)
  //
  // The eleven classic TPC-H shapes not yet in the surface (Q7, Q8,
  // Q9, Q11, Q12, Q13, Q14, Q16, Q19, Q20, Q22), each adapted to the
  // fixture schema (no partsupp table — lineitem is the
  // part↔supplier association; no l_shipmode/l_commitdate — order
  // priority and shipdate-vs-orderdate lag stand in). Every query is
  // a single SQL TEMPLATE over a table→view mapping: the Spark side
  // runs it through the SQL front-end over per-call temp views, and
  // the DuckDB oracle is the SAME template under the identity
  // mapping — the two engines run literally identical SQL, so
  // Spark↔DuckDB drift can only come from semantics, never from a
  // hand-maintained second copy. Dialect discipline for that:
  // `CAST(SUM(…) AS BIGINT)` always (DuckDB sums BIGINT into
  // HUGEINT), `CAST(YEAR(…) AS INT)` (DuckDB's year() is BIGINT),
  // exact e4 revenue (cents × (100 − disc%)) everywhere a product of
  // price and discount appears, and a total ORDER BY.

  /** Register per-call unique temp views for `tables` and run the
    * template through the SQL front-end. Views are dropped after
    * `sql()` resolves the plan (resolution is eager; execution no
    * longer needs the catalog entries). */
  private def sqlQ(tables: String*)(tpl: (String => String) => String): Q =
    (s, d) => {
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val views = tables.map(t => t -> s"graft_${t}_$tag").toMap
      views.foreach { case (t, vn) =>
        Tables.table(s, d, t).createOrReplaceTempView(vn)
      }
      try s.sql(tpl(views))
      finally views.valuesIterator.foreach(s.catalog.dropTempView(_))
    }

  /** Oracle view mapping: table names map to themselves. */
  private val asIs: String => String = identity

  /** TPC-H Q7 (volume shipping): bidirectional two-nation trade by
    * ship year. Scale shape: nation is a 25-row dim joined twice —
    * both sides broadcast; the two fact-fact joins
    * (lineitem⋈orders⋈customer) shuffle on their keys; the
    * disjunctive nation-pair predicate filters after the broadcasts,
    * so the shuffled volume is the date-filtered lineitem only. */
  private def tplVolumeShipping(v: String => String): String =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  CAST(SUM(vol_e4) AS BIGINT) AS rev_e4, COUNT(1) AS n
       |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |        CAST(YEAR(l_shipdate) AS INT) AS l_year,
       |        CAST(ROUND(l_extendedprice*100) AS BIGINT) *
       |          (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS vol_e4
       |      FROM ${v("supplier")}, ${v("lineitem")}, ${v("orders")},
       |        ${v("customer")}, ${v("nation")} n1, ${v("nation")} n2
       |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
       |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
       |        AND c_nationkey = n2.n_nationkey
       |        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
       |          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
       |        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
       |          AND TIMESTAMP '1996-12-31 23:59:59') shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  val q_sql_volume_shipping: Q =
    sqlQ("supplier", "lineitem", "orders", "customer", "nation")(tplVolumeShipping)

  /** TPC-H Q8 (market share): one supplier nation's share of a
    * region's PROMO volume by order year — returned as exact
    * numerator/denominator e4 pairs, NOT a ratio (a double division
    * would be the only inexact step; the caller divides). Scale
    * shape: the widest star in the surface — 8 relations; region,
    * nation×2 broadcast; part's type filter pushes to its scan and
    * the part join is broadcast-able at any scale where part ≪
    * lineitem. */
  private def tplMarketShare(v: String => String): String =
    s"""SELECT o_year,
       |  CAST(SUM(CASE WHEN nation = 'NATION_3' THEN vol_e4 ELSE 0 END) AS BIGINT) AS target_e4,
       |  CAST(SUM(vol_e4) AS BIGINT) AS total_e4, COUNT(1) AS n
       |FROM (SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
       |        CAST(ROUND(l_extendedprice*100) AS BIGINT) *
       |          (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS vol_e4,
       |        n2.n_name AS nation
       |      FROM ${v("part")}, ${v("supplier")}, ${v("lineitem")}, ${v("orders")},
       |        ${v("customer")}, ${v("nation")} n1, ${v("nation")} n2, ${v("region")}
       |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
       |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
       |        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
       |        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
       |        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
       |          AND TIMESTAMP '1996-12-31 23:59:59'
       |        AND p_type = 'PROMO') all_nations
       |GROUP BY o_year ORDER BY o_year""".stripMargin

  val q_sql_market_share: Q =
    sqlQ("part", "supplier", "lineitem", "orders", "customer", "nation", "region")(
      tplMarketShare)

  /** TPC-H Q9 (product-type profit): profit per supplier nation per
    * order year for parts matching a name infix. The fixture has no
    * partsupp.ps_supplycost, so cost = p_retailprice × quantity (a
    * per-part constant — same arithmetic shape, exact in e4). The
    * `%widget%` infix can't prune row groups, but it IS pushed to the
    * part scan and the surviving ~1/9 of part keys then drive the
    * join; group-by fan-in is nation × year — tiny. */
  private def tplProductProfit(v: String => String): String =
    s"""SELECT nation, o_year,
       |  CAST(SUM(amount_e4) AS BIGINT) AS profit_e4, COUNT(1) AS n
       |FROM (SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
       |        CAST(ROUND(l_extendedprice*100) AS BIGINT) *
       |          (100 - CAST(ROUND(l_discount*100) AS BIGINT))
       |        - CAST(ROUND(p_retailprice*100) AS BIGINT) * 100 *
       |          CAST(ROUND(l_quantity) AS BIGINT) AS amount_e4
       |      FROM ${v("part")}, ${v("supplier")}, ${v("lineitem")},
       |        ${v("orders")}, ${v("nation")}
       |      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
       |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
       |        AND p_name LIKE '%widget%') profit
       |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin

  val q_sql_product_profit: Q =
    sqlQ("part", "supplier", "lineitem", "orders", "nation")(tplProductProfit)

  /** TPC-H Q11 (important stock): per-part value from one nation's
    * suppliers, kept only above a fraction of the GLOBAL total — a
    * grouped aggregate HAVING-compared against an uncorrelated scalar
    * subquery over the same source. The threshold is integer-exact
    * (`value×1000 > total`, no division). Scale note: the per-part
    * and global aggregates group by different keys, so this is
    * honestly TWO aggregations of the filtered join; Catalyst reuses
    * the subquery result across partitions (one broadcast scalar),
    * and the filtered join itself is the recomputed piece — at 100 TB
    * you'd materialize it once (the incremental-MV machinery in this
    * repo) if the fraction test ran repeatedly. */
  private def tplImportantParts(v: String => String): String =
    s"""SELECT l_partkey AS p_key,
       |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS value_cents
       |FROM ${v("lineitem")}, ${v("supplier")}, ${v("nation")}
       |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |  AND n_name = 'NATION_3'
       |GROUP BY l_partkey
       |HAVING SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) * 1000 > (
       |  SELECT SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
       |  FROM ${v("lineitem")}, ${v("supplier")}, ${v("nation")}
       |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |    AND n_name = 'NATION_3')
       |ORDER BY value_cents DESC, p_key""".stripMargin

  val q_sql_important_parts: Q =
    sqlQ("lineitem", "supplier", "nation")(tplImportantParts)

  /** TPC-H Q12 (shipping modes & priority): lines shipped more than
    * 60 days after ordering in one year, split into high/low priority
    * counts per line status (the fixture has no l_shipmode). The
    * shipdate range pushes to the lineitem scan; the lag predicate
    * (l_shipdate > o_orderdate + 60d) is a post-join filter — it
    * references both sides, which is exactly why Q12 is the classic
    * "join-then-filter you cannot push" shape. */
  private def tplPriorityShipping(v: String => String): String =
    s"""SELECT l_linestatus,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM ${v("orders")}, ${v("lineitem")}
       |WHERE o_orderkey = l_orderkey
       |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
       |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  val q_sql_priority_shipping: Q =
    sqlQ("orders", "lineitem")(tplPriorityShipping)

  /** TPC-H Q13 (customer distribution): histogram of urgent-orders-
    * per-customer — the double-aggregation shape. The priority filter
    * lives in the JOIN's ON clause, not WHERE (a WHERE would turn the
    * left join inner and drop zero-order customers — the exact rows
    * Q13 exists to count; ~14% of customers have no urgent order, so
    * the outer-join semantics are data-visible and oracle-checked).
    * First aggregate shuffles on custkey; the second groups ~50
    * distinct counts — free. */
  private def tplCustDistribution(v: String => String): String =
    s"""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
       |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
       |      FROM ${v("customer")} LEFT OUTER JOIN ${v("orders")}
       |        ON c_custkey = o_custkey
       |          AND o_orderpriority = '1-URGENT'
       |      GROUP BY c_custkey) c_orders
       |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  val q_sql_cust_distribution: Q =
    sqlQ("customer", "orders")(tplCustDistribution)

  /** TPC-H Q14 (promo revenue): one month's PROMO share of revenue as
    * an exact numerator/denominator pair (no division — the only
    * possible float drift). Single-row global conditional aggregate;
    * the month filter pushes to the lineitem scan and at 100 TB
    * prunes to ~1/80 of partitions under shipdate partitioning. */
  private def tplPromoRevenue(v: String => String): String =
    s"""SELECT
       |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vol_e4 ELSE 0 END) AS BIGINT) AS promo_e4,
       |  CAST(SUM(vol_e4) AS BIGINT) AS total_e4, COUNT(1) AS n
       |FROM (SELECT p_type,
       |        CAST(ROUND(l_extendedprice*100) AS BIGINT) *
       |          (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS vol_e4
       |      FROM ${v("lineitem")}, ${v("part")}
       |      WHERE l_partkey = p_partkey
       |        AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
       |        AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00') t""".stripMargin

  val q_sql_promo_revenue: Q = sqlQ("lineitem", "part")(tplPromoRevenue)

  /** TPC-H Q16 (parts/supplier relationship): distinct suppliers per
    * (brand, size) for selected parts, excluding suppliers from a
    * NOT IN subquery. lineitem stands in for partsupp as the
    * part↔supplier association. Scale shape: the NOT IN plans as a
    * null-aware anti join against a tiny broadcast set; COUNT
    * (DISTINCT) shuffles once on the group keys with partial
    * de-duplication map-side. */
  private def tplPartsSupplierCnt(v: String => String): String =
    s"""SELECT p_brand, p_size,
       |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
       |FROM ${v("part")}, ${v("lineitem")}
       |WHERE p_partkey = l_partkey
       |  AND p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
       |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
       |  AND l_suppkey NOT IN (
       |    SELECT s_suppkey FROM ${v("supplier")} WHERE s_acctbal < 0)
       |GROUP BY p_brand, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  val q_sql_parts_supplier_cnt: Q =
    sqlQ("part", "lineitem", "supplier")(tplPartsSupplierCnt)

  /** TPC-H Q19 (disjunctive predicate): an OR of three
    * brand/size/quantity conjunct groups over the part join — the
    * canonical test that a disjunction referencing both join sides
    * still yields a plain equi-join (the equi-condition is extracted;
    * the OR stays as a post-join filter) and that the part-side
    * bounds within the OR are derivable for scan pruning. Zero
    * cartesian/BNLJ — plan-asserted in the spec. */
  private def tplDisjunctiveScan(v: String => String): String =
    s"""SELECT CAST(SUM(vol_e4) AS BIGINT) AS rev_e4, COUNT(1) AS n
       |FROM (SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) *
       |          (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS vol_e4
       |      FROM ${v("lineitem")}, ${v("part")}
       |      WHERE p_partkey = l_partkey AND (
       |        (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       |          AND l_quantity BETWEEN 1 AND 11)
       |        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       |          AND l_quantity BETWEEN 10 AND 20)
       |        OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       |          AND l_quantity BETWEEN 20 AND 30))) t""".stripMargin

  val q_sql_disjunctive_scan: Q = sqlQ("lineitem", "part")(tplDisjunctiveScan)

  /** TPC-H Q20 (excess inventory): suppliers who shipped a large
    * quantity of red parts in one year — nested IN subqueries (part
    * keys inside the lineitem aggregate inside the supplier semi
    * join). Catalyst chains two LEFT SEMI equi-joins and aggregates
    * lineitem BEFORE the outer semi join — the keeper-key set that
    * reaches supplier is ≤100 keys regardless of fact size. */
  private def tplExcessSuppliers(v: String => String): String =
    s"""SELECT s_suppkey, s_name
       |FROM ${v("supplier")}, ${v("nation")}
       |WHERE s_suppkey IN (
       |    SELECT l_suppkey FROM ${v("lineitem")}
       |    WHERE l_partkey IN (
       |        SELECT p_partkey FROM ${v("part")} WHERE p_name LIKE 'red%')
       |      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |    GROUP BY l_suppkey
       |    HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 300)
       |  AND s_nationkey = n_nationkey AND n_regionkey <= 2
       |ORDER BY s_suppkey""".stripMargin

  val q_sql_excess_suppliers: Q =
    sqlQ("supplier", "nation", "lineitem", "part")(tplExcessSuppliers)

  /** TPC-H Q22 (global sales opportunity): customers in selected
    * country codes with above-average balance and no recent orders
    * (the fixture's every customer HAS orders, so "idle" = none since
    * 2000 — same NOT EXISTS anti-join shape with a pushable date
    * filter on the subquery side). The average is an uncorrelated
    * scalar subquery over exact cents — sum is integer-exact, and
    * the single division is the same IEEE op in both engines. */
  private def tplIdleCustomers(v: String => String): String =
    s"""SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       |  CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents
       |FROM (SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode,
       |        CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_cents
       |      FROM ${v("customer")}
       |      WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)
       |        AND CAST(ROUND(c_acctbal*100) AS BIGINT) > (
       |          SELECT AVG(CAST(ROUND(c_acctbal*100) AS BIGINT))
       |          FROM ${v("customer")}
       |          WHERE c_acctbal > 0 AND c_nationkey % 10 IN (1, 2, 3, 4, 5))
       |        AND NOT EXISTS (
       |          SELECT 1 FROM ${v("orders")}
       |          WHERE o_custkey = c_custkey
       |            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')) custsale
       |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin

  val q_sql_idle_customers: Q = sqlQ("customer", "orders")(tplIdleCustomers)

  /** TPC-H Q17 (small-quantity-order revenue): revenue from lines
    * whose quantity is below 20% of the per-part average — the one
    * classic shape that correlates an aggregate subquery against the
    * SAME fact table being scanned. The fixture has no p_container,
    * so brand + size stand in for the brand + container filter. The
    * 0.2·avg threshold is cross-multiplied into exact integers
    * (qty < sum/(5n) ⇔ 5·qty·n < sum), so the boundary can never
    * flip on float rounding; that needs both SUM and COUNT, hence
    * two correlated scalar subqueries — Catalyst decorrelates each
    * into an aggregate joined on the correlation key, so lineitem is
    * scanned a bounded number of times (plan-asserted ≤3 in the
    * spec), never once per outer row. Scale shape: the decorrelated
    * per-part aggregate shuffles lineitem once on l_partkey; part is
    * a broadcast dim; output is one row. Q17's classic
    * `sum(price)/7.0` becomes integer division by 7 on exact cents. */
  private def tplSmallQtyRevenue(v: String => String): String =
    s"""SELECT COUNT(1) AS n, CAST(SUM(price_cents) AS BIGINT) AS rev_cents,
       |  CAST(FLOOR(CAST(SUM(price_cents) AS BIGINT) / 7) AS BIGINT) AS avg_yearly_e2
       |FROM (SELECT CAST(ROUND(l.l_extendedprice*100) AS BIGINT) AS price_cents
       |      FROM ${v("lineitem")} l, ${v("part")}
       |      WHERE p_partkey = l.l_partkey
       |        AND p_brand IN ('Brand#1', 'Brand#2') AND p_size <= 25
       |        AND 5 * CAST(ROUND(l.l_quantity*100) AS BIGINT) *
       |            (SELECT COUNT(*) FROM ${v("lineitem")} l2
       |             WHERE l2.l_partkey = p_partkey)
       |          < (SELECT CAST(SUM(CAST(ROUND(l2.l_quantity*100) AS BIGINT)) AS BIGINT)
       |             FROM ${v("lineitem")} l2
       |             WHERE l2.l_partkey = p_partkey)) t""".stripMargin

  val q_sql_small_qty_revenue: Q = sqlQ("lineitem", "part")(tplSmallQtyRevenue)

  // ------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "q_scan_pushdown" -> q_scan_pushdown,
    "q1_pricing_summary" -> q1_pricing_summary,
    "q6_revenue_delta" -> q6_revenue_delta,
    "q_distinct_agg" -> q_distinct_agg,
    "q_approx_distinct" -> q_approx_distinct,
    "q_hll_rollup" -> q_hll_rollup,
    "q_rollup" -> q_rollup,
    "q_cube" -> q_cube,
    "q_grouping_sets" -> q_grouping_sets,
    "q_grouping_id" -> q_grouping_id,
    "q3_top_unshipped" -> q3_top_unshipped,
    "q5_region_revenue" -> q5_region_revenue,
    "q_semi_join" -> q_semi_join,
    "q_anti_join" -> q_anti_join,
    "q_outer_join" -> q_outer_join,
    "q_range_join" -> q_range_join,
    "q_range_bin_join" -> q_range_bin_join,
    "q_range_bin_date" -> q_range_bin_date,
    "q_asof_join" -> q_asof_join,
    "q_nullsafe_eq" -> q_nullsafe_eq,
    "q_window_rank" -> q_window_rank,
    "q_window_lag_lead" -> q_window_lag_lead,
    "q_window_running_sum" -> q_window_running_sum,
    "q_topk_per_group" -> q_topk_per_group,
    "q_sort_limit" -> q_sort_limit,
    "q_set_ops" -> q_set_ops,
    "q_set_ops_all" -> q_set_ops_all,
    "q_scalar_fns" -> q_scalar_fns,
    "q_date_fns" -> q_date_fns,
    "q_json_events" -> q_json_events,
    "q_map_fns" -> q_map_fns,
    "q_supplier_stats" -> q_supplier_stats,
    "q_conditional_agg" -> q_conditional_agg,
    "q_bucketed_join" -> q_bucketed_join,
    "q_skew_join" -> q_skew_join,
    "q_bloom_join" -> q_bloom_join,
    "q_shuffle_hash_join" -> q_shuffle_hash_join,
    "q_sql_exists" -> q_sql_exists,
    "q_sql_agg_filter" -> q_sql_agg_filter,
    "q_sessionize" -> q_sessionize,
    "q_sessionize_skew" -> q_sessionize_skew,
    "q_funnel" -> q_funnel,
    "q_cohort_retention" -> q_cohort_retention,
    "q_mv_join_delta" -> q_mv_join_delta,
    "q_mv_join_served" -> q_mv_join_served,
    "q_moving_avg" -> q_moving_avg,
    "q_gap_fill" -> q_gap_fill,
    "q_incremental_agg" -> q_incremental_agg,
    "q_mv_served" -> q_mv_served,
    "q_mv_resharded" -> q_mv_resharded,
    "q_mv_distinct" -> q_mv_distinct,
    "q_mv_changed_keys" -> q_mv_changed_keys,
    "q_mv_asof" -> q_mv_asof,
    "q_mv_changefeed" -> q_mv_changefeed,
    "q_mv_retract" -> q_mv_retract,
    "q_table_profile" -> q_table_profile,
    "q_equidepth_hist" -> q_equidepth_hist,
    "q_dq_checks" -> q_dq_checks,
    "q_sql_having_in" -> q_sql_having_in,
    "q_sql_scalar_subquery" -> q_sql_scalar_subquery,
    "q_sql_recursive" -> q_sql_recursive,
    "q_sql_double_exists" -> q_sql_double_exists,
    "q_percentiles" -> q_percentiles,
    "q_approx_percentile" -> q_approx_percentile,
    "q_pivot" -> q_pivot,
    "q_lateral_explode" -> q_lateral_explode,
    "q_partitioned_write" -> q_partitioned_write,
    "q_wap_publish" -> q_wap_publish,
    "q_window_dist" -> q_window_dist,
    "q_window_first_last" -> q_window_first_last,
    "q_array_fns" -> q_array_fns,
    "q_corr_stats" -> q_corr_stats,
    "q2_min_cost_supplier" -> q2_min_cost_supplier,
    "q10_returned_revenue" -> q10_returned_revenue,
    "q_unpivot" -> q_unpivot,
    "q_ewma_smooth" -> q_ewma_smooth,
    "q_window_cum_distinct" -> q_window_cum_distinct,
    "q_sql_lateral" -> q_sql_lateral,
    "q_sql_native_fns" -> q_sql_native_fns,
    "q_sql_revenue_view" -> q_sql_revenue_view,
    "q_dpp" -> q_dpp,
    "q_sql_volume_shipping" -> q_sql_volume_shipping,
    "q_sql_market_share" -> q_sql_market_share,
    "q_sql_product_profit" -> q_sql_product_profit,
    "q_sql_important_parts" -> q_sql_important_parts,
    "q_sql_priority_shipping" -> q_sql_priority_shipping,
    "q_sql_cust_distribution" -> q_sql_cust_distribution,
    "q_sql_promo_revenue" -> q_sql_promo_revenue,
    "q_sql_parts_supplier_cnt" -> q_sql_parts_supplier_cnt,
    "q_sql_disjunctive_scan" -> q_sql_disjunctive_scan,
    "q_sql_excess_suppliers" -> q_sql_excess_suppliers,
    "q_sql_idle_customers" -> q_sql_idle_customers,
    "q_sql_small_qty_revenue" -> q_sql_small_qty_revenue,
  )

  val oracles: Map[String, String] = Map(
    // TPC-H long tail: oracle = the SAME template Spark ran, under the
    // identity table→view mapping (zero hand-maintained SQL drift)
    "q_sql_volume_shipping" -> tplVolumeShipping(asIs),
    "q_sql_market_share" -> tplMarketShare(asIs),
    "q_sql_product_profit" -> tplProductProfit(asIs),
    "q_sql_important_parts" -> tplImportantParts(asIs),
    "q_sql_priority_shipping" -> tplPriorityShipping(asIs),
    "q_sql_cust_distribution" -> tplCustDistribution(asIs),
    "q_sql_promo_revenue" -> tplPromoRevenue(asIs),
    "q_sql_parts_supplier_cnt" -> tplPartsSupplierCnt(asIs),
    "q_sql_disjunctive_scan" -> tplDisjunctiveScan(asIs),
    "q_sql_excess_suppliers" -> tplExcessSuppliers(asIs),
    "q_sql_idle_customers" -> tplIdleCustomers(asIs),
    "q_sql_small_qty_revenue" -> tplSmallQtyRevenue(asIs),
    // Q15 arg-max over the revenue view, exact-integer revenue
    // (cents × (100 − disc%)) so the MAX equality never float-drifts
    "q_sql_revenue_view" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |             (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
        |      AS total_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
        |    AND l_suppkey IS NOT NULL
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_e4
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_e4 = (SELECT MAX(total_e4) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q_table_profile" -> tableProfileOracle,
    "q_dq_checks" -> dqChecksOracle,
    // ordered-stage funnel: stage k strictly after stage k-1, within
    // the 12 h window; latencies summed as exact whole seconds
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events),
        |v AS (SELECT user_id, MIN(t_us) AS tv FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(t_us) AS tc, MIN(tv) AS tv
        |      FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND t_us > tv
        |        AND t_us <= tv + 43200000000 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(t_us) AS tp, MIN(tv) AS tv
        |      FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND t_us > tc
        |        AND t_us <= tc + 43200000000 GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS stage, 'view' AS stage_name,
        |  COUNT(*) AS users, CAST(0 AS BIGINT) AS sum_lat_secs FROM v
        |UNION ALL SELECT 2, 'click', COUNT(*),
        |  CAST(COALESCE(SUM((tc - tv) // 1000000), 0) AS BIGINT) FROM c
        |UNION ALL SELECT 3, 'purchase', COUNT(*),
        |  CAST(COALESCE(SUM((tp - tv) // 1000000), 0) AS BIGINT) FROM p
        |ORDER BY stage""".stripMargin,
    // Monday-start weeks in both engines; offsets exact day-diff // 7
    "q_cohort_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |activity AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events)
        |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
        |  CAST((week - cohort_week) // 7 AS BIGINT) AS week_offset,
        |  COUNT(*) AS active_users
        |FROM cohort JOIN activity USING (user_id)
        |WHERE week >= cohort_week
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // durable join-MV serve: direct full-join aggregate by priority
    "q_mv_join_served" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // direct aggregate over the FULL join — the oracle never sees the
    // delta decomposition, so a hash match proves the algebra
    "q_mv_join_delta" ->
      """SELECT o_orderpriority, strftime(l_shipdate, '%Y-%m') AS m,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority, m
        |ORDER BY o_orderpriority, m""".stripMargin,
    // exact integer co-moments (HUGEINT side of the DECIMAL(38,0)
    // contract): every derived statistic is the same IEEE expression
    // over identical integers, so doubles match bit-for-bit
    "q_corr_stats" ->
      """WITH t AS (SELECT l_returnflag,
        |    CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT) AS x,
        |    CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT) AS y
        |  FROM lineitem),
        |g AS (SELECT l_returnflag, COUNT(1) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
        |    SUM(x*x) AS sxx, SUM(y*y) AS syy,
        |    corr(CAST(x AS DOUBLE), CAST(y AS DOUBLE)) AS corr_native
        |  FROM t GROUP BY 1),
        |m AS (SELECT l_returnflag, n, corr_native,
        |    n*sxy - sx*sy AS num_xy, n*sxx - sx*sx AS num_xx,
        |    n*syy - sy*sy AS num_yy
        |  FROM g)
        |SELECT l_returnflag, n,
        |  ROUND(CAST(num_xy AS DOUBLE) /
        |    sqrt(CAST(num_xx AS DOUBLE) * CAST(num_yy AS DOUBLE)), 6) AS corr_qty_price,
        |  ROUND(CAST(num_xy AS DOUBLE) / CAST(n*(n-1) AS DOUBLE), 4) AS covar_samp,
        |  ROUND(sqrt(CAST(num_yy AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)), 4) AS stddev_price_cents,
        |  ROUND(CAST(num_xy AS DOUBLE) / CAST(num_xx AS DOUBLE), 6) AS slope_cents_per_qty,
        |  abs(corr_native - CAST(num_xy AS DOUBLE) /
        |    sqrt(CAST(num_xx AS DOUBLE) * CAST(num_yy AS DOUBLE))) < 1e-6 AS native_corr_ok
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 40)),
        |m AS (SELECT l_partkey AS mk, MIN(price_cents) AS min_cents
        |      FROM li GROUP BY 1)
        |SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, m.min_cents
        |FROM li JOIN m ON li.l_partkey = m.mk AND li.price_cents = m.min_cents
        |JOIN part ON p_partkey = li.l_partkey
        |JOIN supplier ON s_suppkey = li.l_suppkey
        |ORDER BY p_partkey, s_suppkey""".stripMargin,
    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY rev_cents DESC, c_custkey LIMIT 20""".stripMargin,
    // pivot∘unpivot round-trip vs the plain long-form GROUP BY with
    // the status×priority grid completed (unpivot keeps zero cells)
    "q_unpivot" ->
      """WITH st AS (SELECT DISTINCT o_orderstatus FROM orders),
        |p AS (SELECT * FROM (VALUES ('1-URGENT'),('2-HIGH'),('3-MEDIUM'),
        |                            ('4-NOT SPECIFIED'),('5-LOW')) t(priority)),
        |c AS (SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n
        |      FROM orders GROUP BY 1, 2)
        |SELECT st.o_orderstatus, p.priority, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM st CROSS JOIN p
        |LEFT JOIN c ON c.o_orderstatus = st.o_orderstatus
        |           AND c.o_orderpriority = p.priority
        |ORDER BY st.o_orderstatus, p.priority""".stripMargin,
    "q_ewma_smooth" ->
      """WITH monthly AS (
        |  SELECT l_returnflag, l_linestatus, strftime(l_shipdate, '%Y-%m') AS m,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1, 2, 3),
        |w AS (SELECT l_returnflag, l_linestatus, m, rev_cents,
        |    128*rev_cents
        |      + 64*COALESCE(lag(rev_cents, 1) OVER win, 0)
        |      + 32*COALESCE(lag(rev_cents, 2) OVER win, 0)
        |      + 16*COALESCE(lag(rev_cents, 3) OVER win, 0)
        |      +  8*COALESCE(lag(rev_cents, 4) OVER win, 0)
        |      +  4*COALESCE(lag(rev_cents, 5) OVER win, 0)
        |      +  2*COALESCE(lag(rev_cents, 6) OVER win, 0)
        |      +  1*COALESCE(lag(rev_cents, 7) OVER win, 0) AS ewma_num,
        |    LEAST(ROW_NUMBER() OVER win - 1, 7) AS k
        |  FROM monthly
        |  WINDOW win AS (PARTITION BY l_returnflag, l_linestatus ORDER BY m))
        |SELECT l_returnflag, l_linestatus, m, rev_cents,
        |  CAST(ewma_num AS BIGINT) AS ewma_num,
        |  CAST(256 - CAST(pow(2, 7 - k) AS BIGINT) AS BIGINT) AS ewma_den,
        |  CAST(k + 1 AS BIGINT) AS n_taps,
        |  CAST(ROUND(CAST(ewma_num AS DOUBLE) /
        |    CAST(256 - CAST(pow(2, 7 - k) AS BIGINT) AS DOUBLE)) AS BIGINT) AS smoothed_cents
        |FROM w ORDER BY l_returnflag, l_linestatus, m""".stripMargin,
    "q_dpp" ->
      """WITH dim AS (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS m
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1995-06-01 00:00:00'),
        |f AS (SELECT strftime(o_orderdate, '%Y-%m') AS o_month, o_totalprice
        |      FROM orders)
        |SELECT o_month, COUNT(1) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM f JOIN dim ON o_month = m
        |GROUP BY o_month ORDER BY o_month""".stripMargin,
    "q_sql_lateral" ->
      """SELECT c_custkey, o_orderkey, total_cents
        |FROM customer, LATERAL (
        |  SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
        |  FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY total_cents DESC, o_orderkey LIMIT 3) best
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey, total_cents DESC, o_orderkey""".stripMargin,
    // the three SQL-registered native expressions recomputed from
    // first principles: DuckDB's own Jaro-Winkler, a list-comprehension
    // distinct 2-word shingle count, and the Karp-Rabin polynomial of
    // the first 8-byte window (t_fingerprint's replay formula)
    "q_sql_native_fns" ->
      """WITH pair AS (
        |  SELECT p1.p_partkey, p1.p_name AS a, p2.p_name AS b
        |  FROM part p1 JOIN part p2 ON p2.p_partkey = p1.p_partkey + 1
        |  WHERE length(p1.p_name) >= 8)
        |SELECT p_partkey,
        |  ROUND(jaro_winkler_similarity(a, b), 9) AS jw9,
        |  CAST(len(list_distinct(list_transform(
        |    generate_series(1, len(string_split(a, ' ')) - 1),
        |    i -> string_split(a, ' ')[i] || ' ' || string_split(a, ' ')[i + 1])))
        |    AS INTEGER) AS n_sh2,
        |  CAST(list_reduce(
        |    list_prepend(0, list_transform(generate_series(0, 7),
        |      j -> ascii(substr(a, 1 + j, 1)))),
        |    (acc, x) -> (acc * 257 + x) % 1000003) AS BIGINT) AS fp_first
        |FROM pair ORDER BY p_partkey""".stripMargin,
    "q_window_cum_distinct" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type
        |  FROM events),
        |f AS (SELECT *, CASE WHEN ROW_NUMBER() OVER (
        |    PARTITION BY user_id, event_type ORDER BY t_us, event_id) = 1
        |    THEN 1 ELSE 0 END AS first_of_type FROM e)
        |SELECT user_id, t_us, event_id,
        |  CAST(SUM(first_of_type) OVER (PARTITION BY user_id
        |    ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_distinct_types
        |FROM f ORDER BY user_id, t_us, event_id""".stripMargin,
    "q_sessionize" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id FROM events),
         |f AS (SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
         |                       OR t_us - lag(t_us) OVER w > $SessionGapUs
         |                     THEN 1 ELSE 0 END AS is_new
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
         |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
         |        ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
         |      FROM f)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |  COUNT(*) AS n_events, MIN(t_us) AS start_us, MAX(t_us) AS end_us
         |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
    // the oracle replays the PLAIN single-window sessionize over the
    // same planted-skew input — the hash match proves the two-phase
    // chunked decomposition exact
    "q_sessionize_skew" ->
      s"""WITH e AS (SELECT CASE WHEN event_id % 10 < 3 THEN -1 ELSE user_id END AS user_id,
         |             epoch_us(ts) AS t_us, event_id FROM events),
         |f AS (SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
         |                       OR t_us - lag(t_us) OVER w > $SessionGapUs
         |                     THEN 1 ELSE 0 END AS is_new
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
         |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
         |        ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
         |      FROM f)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |  COUNT(*) AS n_events, MIN(t_us) AS start_us, MAX(t_us) AS end_us
         |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
    "q_moving_avg" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_no,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day_no, day_cents,
        |  CAST(SUM(day_cents) OVER w AS BIGINT) AS ma7_cents_sum,
        |  COUNT(*) OVER w AS ma7_n
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY day_no
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day_no""".stripMargin,
    "q_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, event_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |daily AS (
        |  SELECT user_id, day, count(*) AS n_events,
        |    arg_max(cents, t_us) AS day_cents
        |  FROM e GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span)
        |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
        |  CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
        |  last_value(d.day_cents IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_cents
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY g.user_id, day""".stripMargin,
    "q_incremental_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // the durable MV's serve path must equal the direct full-table
    // aggregate — identical oracle to q_incremental_agg by design
    // a reshard is observationally a no-op: same full-table oracle
    "q_mv_resharded" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_mv_served" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // bound witness: DuckDB recomputes the exact distinct counts; the
    // sketch-MV estimate's ±5 % flag must come back all-true
    "q_mv_distinct" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the changed-key set replayed from the planted construction: the
    // late delta hit exactly the min event_type, so is_changed flags
    // precisely that key; the followed copy must equal the full
    // re-serve key-for-key (followed_ok) — both engine-independent
    "q_mv_changed_keys" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  event_type = (SELECT min(event_type) FROM events) AS is_changed,
        |  TRUE AS followed_ok,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // direct aggregate over the CORRECTED base: the MV consumed the
    // corrections as (-before, +after) partials and must agree
    "q_mv_retract" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(SUM(CAST(round(CASE WHEN l_orderkey % 97 = 0
        |         AND strftime(l_shipdate, '%Y-%m') IN ('2001-09', '2001-10')
        |       THEN l_quantity + 1 ELSE l_quantity END) AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // epoch-0 snapshot = the view before the cutoff month landed
    "q_mv_asof" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '2001-11-01 00:00:00'
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // equi-depth boundaries: identical grouped-cumsum walk, identical
    // integer-exact lower-bound quantile definition
    "q_equidepth_hist" ->
      """WITH base AS (
        |  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS qty,
        |    CAST(l_linenumber AS BIGINT) AS ln,
        |    CASE WHEN l_orderkey % 13 = 0 THEN NULL
        |      ELSE CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 100000
        |    END AS band
        |  FROM lineitem),
        |long3 AS (
        |  SELECT 'qty' AS col_name, qty AS v FROM base
        |  UNION ALL SELECT 'ln', ln FROM base
        |  UNION ALL SELECT 'band', band FROM base),
        |g AS (SELECT col_name, v, COUNT(*) AS cnt FROM long3 GROUP BY 1, 2),
        |percol AS (SELECT col_name,
        |    CAST(SUM(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_nonnull,
        |    CAST(SUM(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_null,
        |    CAST(COUNT(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS ndv,
        |    MIN(v) AS min_v, MAX(v) AS max_v
        |  FROM g GROUP BY 1),
        |cum AS (SELECT g.col_name, g.v,
        |    SUM(g.cnt) OVER (PARTITION BY g.col_name ORDER BY g.v) AS cum,
        |    p.n_nonnull
        |  FROM g JOIN percol p USING (col_name) WHERE g.v IS NOT NULL),
        |qs AS (SELECT col_name,
        |    MIN(CASE WHEN cum >= (n_nonnull + 3) // 4 THEN v END) AS p25,
        |    MIN(CASE WHEN cum >= (n_nonnull + 1) // 2 THEN v END) AS p50,
        |    MIN(CASE WHEN cum >= (3 * n_nonnull + 3) // 4 THEN v END) AS p75
        |  FROM cum GROUP BY 1)
        |SELECT p.col_name, n_nonnull, n_null, ndv, min_v, max_v, p25, p50, p75
        |FROM percol p JOIN qs USING (col_name)
        |ORDER BY col_name""".stripMargin,
    // the epoch-0 → epoch-1 feed must be the cutoff month's net effect
    "q_mv_changefeed" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-11-01 00:00:00'
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_scan_pushdown" ->
      """SELECT p_partkey, p_brand, p_size FROM part
        |WHERE p_size >= 25 AND p_type = 'PROMO' ORDER BY p_partkey""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  COUNT(1) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q6_revenue_delta" ->
      """SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.04 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(1) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(CAST(ROUND(l_quantity * 100) AS BIGINT), 0.25) AS p25,
        |  quantile_cont(CAST(ROUND(l_quantity * 100) AS BIGINT), 0.5) AS p50,
        |  quantile_cont(CAST(ROUND(l_quantity * 100) AS BIGINT), 0.75) AS p75,
        |  COUNT(1) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q_approx_distinct / q_approx_percentile are bound-witnesses: the
    // sketches have no SQL equivalent, so DuckDB recomputes the exact
    // side and asserts the within-bound flags — the sketches' error
    // CONTRACTS are fully hash-checked.
    "q_approx_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  TRUE AS parts_within_3rsd, TRUE AS orders_within_3rsd
        |FROM lineitem""".stripMargin,
    "q_hll_rollup" ->
      """SELECT CAST(COUNT(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT) AS n_months,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_total,
        |  TRUE AS monthly_ok, TRUE AS merged_ok
        |FROM lineitem""".stripMargin,
    "q_approx_percentile" ->
      """SELECT COUNT(1) AS n, TRUE AS p50_within_1pct,
        |  TRUE AS p90_within_1pct, TRUE AS p99_within_1pct
        |FROM lineitem""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(1) FILTER (o_orderpriority = '1-URGENT') AS n_urgent,
        |  COUNT(1) FILTER (o_orderpriority = '2-HIGH') AS n_high,
        |  COUNT(1) FILTER (o_orderpriority = '3-MEDIUM') AS n_medium,
        |  COUNT(1) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS n_unspec,
        |  COUNT(1) FILTER (o_orderpriority = '5-LOW') AS n_low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_lateral_explode" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM words),
        |toks AS (SELECT doc_id, w[i] AS tok, i - 1 AS pos FROM idx WHERE len(w[i]) > 0)
        |SELECT tok, COUNT(1) AS n, COUNT(DISTINCT doc_id) AS n_docs,
        |  CAST(MIN(pos) AS INTEGER) AS first_pos
        |FROM toks GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "q_partitioned_write" ->
      """SELECT o_orderstatus, COUNT(1) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // q_wap_publish: the protocol's observable outcome replayed from
    // the raw table — served = base ∪ the clean slice ONLY; the dirty
    // slice's planted violation count (negated cents, which are < 0
    // exactly where the pre-negation cents were > 0) is what the
    // audit must have refused with
    "q_wap_publish" ->
      """WITH served AS (
        |  SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents_v
        |  FROM lineitem WHERE l_orderkey % 3 IN (0, 1)),
        |badv AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem
        |  WHERE l_orderkey % 3 = 2 AND l_linenumber % 4 = 1
        |    AND CAST(ROUND(l_extendedprice * 100) AS BIGINT) > 0)
        |SELECT l_returnflag, COUNT(1) AS n_rows,
        |  CAST(SUM(cents_v) AS BIGINT) AS sum_cents,
        |  CAST(0 AS BIGINT) AS good_violations, TRUE AS good_published,
        |  (SELECT v FROM badv) AS bad_violations, FALSE AS bad_published,
        |  CAST(2 AS BIGINT) AS n_epochs
        |FROM served GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_window_dist" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_window_first_last" ->
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    "q_array_fns" -> {
      import graft.functions.VectorFunctions.{oracleDotSql, oracleNormSqSql}
      val dim = SimilarityOps.Dim
      s"""WITH s AS (SELECT vec_id, embedding,
         |  list_reverse_sort(embedding) AS srt, list_reverse(embedding) AS rev
         |  FROM embeddings)
         |SELECT vec_id,
         |  CAST(len(embedding) AS INTEGER) AS n_dims,
         |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
         |  CAST(ROUND(CAST(list_max(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS max_e6,
         |  CAST(ROUND(CAST(list_min(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS min_e6,
         |  CAST(ROUND((CAST(srt[1] AS DOUBLE) + CAST(srt[2] AS DOUBLE) +
         |    CAST(srt[3] AS DOUBLE)) * 1e6) AS BIGINT) AS top3_e6,
         |  CAST(ROUND(sqrt(${oracleNormSqSql("embedding", dim)}) * 1e6) AS BIGINT) AS norm_e6,
         |  CAST(ROUND(${oracleDotSql("embedding", "rev", dim)} * 1e6) AS BIGINT) AS revdot_e6
         |FROM s ORDER BY vec_id""".stripMargin
    },
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    // grouping flags replayed bit-for-bit against planted NULL groups
    "q_grouping_id" ->
      """WITH o AS (SELECT
        |    CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderstatus END AS status_n,
        |    o_orderpriority
        |  FROM orders)
        |SELECT status_n, o_orderpriority, COUNT(1) AS n,
        |  CAST(GROUPING(status_n) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
        |  CAST(GROUPING(status_n, o_orderpriority) AS INTEGER) AS gid
        |FROM o GROUP BY ROLLUP (status_n, o_orderpriority)
        |ORDER BY gid, status_n ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q3_top_unshipped" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(1) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_outer_join" ->
      """SELECT n_name, COUNT(c_custkey) AS n_customers
        |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_range_join" ->
      """SELECT CAST(year(o_orderdate) AS VARCHAR) || 'Q' ||
        |    CAST(quarter(o_orderdate) AS VARCHAR) AS bucket,
        |  COUNT(1) AS n, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    // the rule-rewritten band join must still equal the naive range join
    "q_range_bin_join" ->
      """SELECT w.window_id,
        |  COUNT(1) AS n_clicks,
        |  COUNT(DISTINCT c.user_id) AS n_users
        |FROM (SELECT event_id AS window_id, ts AS lo,
        |        ts + INTERVAL 30 MINUTE AS hi
        |      FROM events
        |      WHERE event_type = 'error' AND event_id % 37 = 0) w
        |JOIN (SELECT user_id, ts AS click_ts FROM events
        |      WHERE event_type = 'click') c
        |  ON c.click_ts >= w.lo AND c.click_ts <= w.hi
        |GROUP BY w.window_id
        |ORDER BY w.window_id""".stripMargin,
    // the date-typed band join must equal the naive date range join
    "q_range_bin_date" ->
      """SELECT w.window_id,
        |  COUNT(1) AS n_ship,
        |  CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |FROM (SELECT o_orderkey AS window_id,
        |        CAST(o_orderdate AS DATE) AS lo,
        |        CAST(o_orderdate AS DATE) + 6 AS hi
        |      FROM orders WHERE o_orderkey % 1009 = 0) w
        |JOIN (SELECT CAST(l_shipdate AS DATE) AS ship_d, l_quantity
        |      FROM lineitem) l
        |  ON l.ship_d >= w.lo AND l.ship_d <= w.hi
        |GROUP BY w.window_id
        |ORDER BY w.window_id""".stripMargin,
    "q_asof_join" ->
      """SELECT event_id, user_id, ts, last_error_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    MAX(CASE WHEN event_type = 'error' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_ts
        |  FROM events) t
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,
    "q_nullsafe_eq" ->
      """SELECT k, COUNT(1) AS n FROM (
        |  SELECT CASE WHEN event_type IN ('click','view') THEN event_type END AS k2
        |  FROM events) e
        |JOIN (VALUES ('click'), ('view'), (NULL)) dim(k)
        |  ON e.k2 IS NOT DISTINCT FROM dim.k
        |GROUP BY k ORDER BY k ASC NULLS FIRST""".stripMargin,
    "q_window_rank" ->
      """SELECT c_nationkey, c_custkey, rn, rk, drk FROM (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
        |    CAST(RANK() OVER w AS INTEGER) AS rk,
        |    CAST(DENSE_RANK() OVER w AS INTEGER) AS drk
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)) t
        |WHERE rn <= 5 ORDER BY c_nationkey, rn""".stripMargin,
    "q_window_lag_lead" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  LAG(o_orderkey, 1) OVER w AS prev_orderkey,
        |  LEAD(o_orderkey, 1) OVER w AS next_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_topk_per_group" ->
      """SELECT l_returnflag, rn, l_orderkey, l_linenumber FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INTEGER) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin,
    "q_sort_limit" ->
      """SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 100""".stripMargin,
    // ANSI bag semantics on both sides: min / truncated-difference of
    // multiplicities, re-aggregated to (value, multiplicity)
    "q_set_ops_all" ->
      """WITH a AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
        |     b AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |     i AS (SELECT c_nationkey FROM a INTERSECT ALL SELECT c_nationkey FROM b),
        |     e AS (SELECT c_nationkey FROM a EXCEPT ALL SELECT c_nationkey FROM b)
        |SELECT op, c_nationkey, cnt FROM (
        |  SELECT 'intersect_all' AS op, c_nationkey, COUNT(1) AS cnt FROM i GROUP BY 2
        |  UNION ALL
        |  SELECT 'except_all', c_nationkey, COUNT(1) FROM e GROUP BY 2) t
        |ORDER BY op, c_nationkey""".stripMargin,
    "q_set_ops" ->
      """WITH auto AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
        |     bld  AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT c_nationkey, op FROM (
        |  SELECT DISTINCT c_nationkey, 'union' AS op FROM (
        |    SELECT * FROM auto UNION ALL SELECT * FROM bld) u
        |  UNION ALL
        |  SELECT c_nationkey, 'intersect' AS op FROM (
        |    SELECT * FROM auto INTERSECT SELECT * FROM bld) i
        |  UNION ALL
        |  SELECT c_nationkey, 'except' AS op FROM (
        |    SELECT * FROM auto EXCEPT SELECT * FROM bld) e) t
        |ORDER BY op, c_nationkey""".stripMargin,
    "q_scalar_fns" ->
      """SELECT c_custkey, UPPER(c_mktsegment) AS seg_upper,
        |  SUBSTRING(c_name, 10, 9) AS cust_id_str,
        |  CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS cust_id_num,
        |  CAST(LENGTH(c_name) AS INTEGER) AS name_len,
        |  c_mktsegment || '-' || CAST(c_custkey AS VARCHAR) AS tag,
        |  CAST(ABS(ROUND(c_acctbal * 100)) AS BIGINT) AS abs_bal_cents,
        |  c_custkey % 7 AS bucket7
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_date_fns" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
        |  date_trunc('month', o_orderdate) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_json_events" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(json_extract_string(props, '$.k')) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_map_fns" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(1) AS n,
        |  MIN(array_to_string(list_sort(json_keys(props)), ',')) AS keys_csv,
        |  CAST(SUM(len(list_filter(json_keys(props), k -> k != 'et')) + 1) AS BIGINT) AS total_keys
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_supplier_stats" ->
      """WITH s AS (
        |  SELECT n_name, s_suppkey, s_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY n_name
        |      ORDER BY CAST(ROUND(s_acctbal * 100) AS BIGINT) DESC, s_suppkey DESC) AS rn
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, COUNT(1) AS n_supp,
        |  CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents,
        |  CAST(MAX(CASE WHEN rn = 1 THEN s_suppkey END) AS BIGINT) AS top_suppkey
        |FROM s GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_conditional_agg" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  COUNT(1) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  COUNT(1) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the IDENTICAL statement under the identity table mapping
    "q_sql_agg_filter" -> sqlAggFilter("orders"),
    "q_sql_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sql_having_in" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
        |FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 150)
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_double_exists" ->
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
    "q_shuffle_hash_join" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, COUNT(1) AS n,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q_skew_join" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |  COUNT(1) AS n
        |FROM (SELECT CASE WHEN l_orderkey % 10 < 3 THEN 1 ELSE l_orderkey END AS jk,
        |             l_quantity
        |      FROM lineitem) l
        |JOIN orders ON o_orderkey = jk
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sql_scalar_subquery" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(best_cents) AS BIGINT) AS best_cents_sum
        |FROM (
        |  SELECT c_custkey, c_mktsegment,
        |    (SELECT CAST(MAX(ROUND(o_totalprice * 100)) AS BIGINT)
        |     FROM orders WHERE o_custkey = c_custkey) AS best_cents
        |  FROM customer) t
        |WHERE best_cents IS NOT NULL
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_sql_recursive" ->
      """WITH RECURSIVE reach(host, depth) AS (
        |  SELECT CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN (
        |    SELECT DISTINCT doc_id % 40 AS src, (doc_id * 7 + 13) % 37 AS dst
        |    FROM documents
        |    WHERE doc_id % 40 <> (doc_id * 7 + 13) % 37) e
        |  ON e.src = r.host
        |  WHERE r.depth < 3)
        |SELECT host, CAST(MIN(depth) AS INTEGER) AS min_hops,
        |  COUNT(*) AS n_walks
        |FROM reach GROUP BY host ORDER BY host""".stripMargin,
    // the runtime bloom filter only prunes the shuffle; the join is
    // exact, so the oracle is the plain join
    "q_bloom_join" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  COUNT(1) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'PROMO' AND p_size >= 25
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
  )
}
