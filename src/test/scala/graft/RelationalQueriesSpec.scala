package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min, round, sum, when}
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Session.local("4", Some("graft-test"))
}

class RelationalQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and is non-empty at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = withClue(name)(fn(spark, sf).count())
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("q1 aggregates are exact integers by construction") {
    val row = ops.RelationalQueries.q1_pricing_summary(spark, sf).head()
    assert(row.schema("sum_base_cents").dataType.typeName == "long")
  }

  test("equi-depth boundaries match a driver-side sorted replay; null plant fires") {
    val got = ops.RelationalQueries.q_equidepth_hist(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("qty", "ln", "band"))
    assert(got("band").getLong(2) > 0, "planted nulls missing from band")
    assert(got("qty").getLong(2) == 0 && got("ln").getLong(2) == 0)
    // independent definition: sort the raw column, take the ceil-rank elements
    val li = ops.Tables.lineitem(spark, sf)
    val qty = li.select(round(col("l_quantity")).cast("long")).collect()
      .map(_.getLong(0)).sorted
    val n = qty.length
    def lb(num: Int, den: Int) = qty((n * num + den - 1) / den - 1)
    val r = got("qty")
    assert((r.getLong(6), r.getLong(7), r.getLong(8)) == ((lb(1, 4), lb(1, 2), lb(3, 4))),
      "grouped-cumsum walk drifted from the sorted-rank definition")
    assert(r.getLong(3) == qty.distinct.length && r.getLong(4) == qty.min &&
      r.getLong(5) == qty.max)
  }

  test("dq checks: every rule non-vacuous, counts match a driver replay") {
    val got = ops.RelationalQueries.q_dq_checks(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == Set("flag_domain", "pk_unique", "qty_range", "ri_orders", "ship_not_null"))
    val li = ops.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate").collect()
    val n = li.length.toLong
    got.values.foreach { case (checked, _, _) => assert(checked == n) }
    // pass flag consistent with the violation count everywhere
    got.values.foreach { case (_, v, pass) => assert(pass == (v == 0L)) }
    // uniqueness fails NATURALLY: the fixture carries duplicate pairs
    val dupes = n - li.map(r => (r.getLong(0), r.getInt(1))).distinct.length
    assert(dupes > 0, "fixture must carry duplicate (orderkey, linenumber) pairs")
    assert(got("pk_unique")._2 == dupes)
    // planted rules replay exactly
    assert(got("qty_range")._2 == li.count(_.getLong(0) % 101 == 0))
    assert(got("flag_domain")._2 == li.count(_.getLong(0) % 103 == 0))
    assert(got("ship_not_null")._2 == li.count(_.getLong(0) % 13 == 0))
    assert(got("ri_orders")._2 == li.filter(_.getLong(0) % 7919 == 0).length)
    assert(got("ri_orders")._2 > 0, "RI plant must produce at least one orphan")
  }

  test("scan pushdown reaches parquet (PushedFilters non-empty)") {
    val plan = ops.RelationalQueries.q_scan_pushdown(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(p_size)") || plan.contains("GreaterThanOrEqual(p_size"))
  }

  test("q5 star join broadcasts the fixed-size dimension tables") {
    val plan = ops.RelationalQueries.q5_region_revenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("no forced broadcast of the scaling customer table (AQE decides)") {
    // q3 joins customer with no hint at all; q5 hints exactly its two
    // fixed-size dims (nation, region), never customer.
    val q3 = ops.RelationalQueries.q3_top_unshipped(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!q3.contains("strategy=broadcast"), s"unexpected hint in q3:\n$q3")
    val q5 = ops.RelationalQueries.q5_region_revenue(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(q5.split("strategy=broadcast").length - 1 == 2,
      s"expected exactly 2 dim hints in q5:\n$q5")
  }

  test("approx distinct is within 3*rsd of the exact count (sf0.001 and sf0.01)") {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, countDistinct}
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // independent recomputation of the raw sketch vs the exact count
      val row = ops.Tables.lineitem(spark, dir)
        .agg(countDistinct("l_partkey"), countDistinct("l_orderkey"),
          approx_count_distinct(col("l_partkey"), 0.01),
          approx_count_distinct(col("l_orderkey"), 0.01)).head()
      for (i <- 0 to 1) {
        val (exact, approx) = (row.getLong(i), row.getLong(i + 2))
        val rel = math.abs(approx - exact).toDouble / exact
        assert(rel <= 3 * 0.01, s"$dir col $i: approx=$approx exact=$exact rel=$rel")
      }
      // and the registered bound-witness agrees
      val w = ops.RelationalQueries.q_approx_distinct(spark, dir).head()
      assert(w.getLong(0) > 0 && w.getLong(1) > 0)
      assert(w.getBoolean(2) && w.getBoolean(3), s"$dir witness flags: $w")
    }
  }

  test("approx percentile tracks the exact quantiles (t-digest error bound)") {
    import org.apache.spark.sql.functions._
    // independent recomputation of the raw sketch vs the exact quantiles
    val row = ops.Tables.lineitem(spark, sf)
      .withColumn("price_cents", round(col("l_extendedprice") * 100).cast("long"))
      .agg(percentile_approx(col("price_cents"), lit(0.5), lit(10000)),
        percentile_approx(col("price_cents"), lit(0.9), lit(10000)),
        percentile_approx(col("price_cents"), lit(0.99), lit(10000)),
        percentile(col("price_cents"), lit(0.5)),
        percentile(col("price_cents"), lit(0.9)),
        percentile(col("price_cents"), lit(0.99))).head()
    for (i <- 0 to 2) {
      val (approx, exact) = (row.getLong(i), row.getDouble(i + 3))
      val rel = math.abs(approx - exact) / exact
      assert(rel <= 0.01, s"quantile $i: approx=$approx exact=$exact")
    }
    // and the registered bound-witness agrees
    val w = ops.RelationalQueries.q_approx_percentile(spark, sf).head()
    assert(w.getLong(0) > 0)
    assert(w.getBoolean(1) && w.getBoolean(2) && w.getBoolean(3), s"witness flags: $w")
  }

  test("exact percentiles are ordered and bounded by the data") {
    val rows = ops.RelationalQueries.q_percentiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3), r.toString)
    }
  }

  test("partitioned write prunes to the filtered month from directory names") {
    val df = ops.RelationalQueries.q_partitioned_write(spark, sf)
    assert(df.count() > 0)
    val scan = df.queryExecution.sparkPlan.collectLeaves().map(_.toString)
      .find(_.contains("o_month")).getOrElse("")
    assert(scan.contains("PartitionFilters"), s"expected a partition-pruned scan:\n$scan")
    assert(scan.contains("1995-03"), s"month filter must reach the partition level:\n$scan")
    // the pruned scan must read only the one matching directory
    val parts = df.queryExecution.sparkPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(parts.headOption.contains(1), s"expected exactly 1 partition read, got $parts")
  }

  test("revenue view: scalar-subquery MAX reuses the CTE's exchange — lineitem scanned once") {
    val df = ops.RelationalQueries.q_sql_revenue_view(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty, "Q1-1995 must have a top supplier")
    // arg-max contract: every returned supplier carries THE max revenue
    val totals = rows.map(_.getLong(2)).distinct
    assert(totals.length == 1, s"all winners must share the max, got ${totals.toSeq}")
    // replay: max over the view computed directly
    val lv = ops.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        (lit(100) - round(col("l_discount") * 100).cast("long"))).as("t"))
    val mx = lv.agg(max(col("t"))).head.getLong(0)
    assert(totals.head == mx)
    // THE scale assertion: the scalar subquery's aggregate reads the
    // SAME shuffle as the main consumer — a ReusedExchange over the
    // per-suppkey exchange, so the revenue view (and the lineitem scan
    // under it) is computed once, not once per consumer
    val plan = df.queryExecution.executedPlan.toString
    assert("ReusedExchange \\[[^\\]]*\\], Exchange hashpartitioning\\(l_suppkey".r
        .findFirstIn(plan).isDefined,
      s"scalar-subquery MAX must reuse the CTE's l_suppkey exchange:\n${plan.take(6000)}")
    // walk the FINAL adaptive plan (main + subqueries, through query
    // stages, stopping at reuse nodes): exactly two real file scans —
    // lineitem once, supplier once
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def realScans(p: SparkPlan): Seq[String] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => realScans(a.executedPlan)
        case q: QueryStageExec => realScans(q.plan)
        case _: ReusedExchangeExec => Seq.empty
        case f: FileSourceScanExec => Seq(f.relation.location.rootPaths.mkString)
        case other => other.children.flatMap(realScans)
      }
      here ++ p.subqueries.flatMap(realScans)
    }
    val scans = realScans(df.queryExecution.executedPlan)
    assert(scans.count(_.contains("lineitem")) == 1,
      s"lineitem must be scanned exactly once, got $scans")
    assert(scans.length == 2, s"expected lineitem + supplier only, got $scans")
  }

  test("Q17 small-qty revenue: correlated per-part aggregates decorrelate, not rescan-per-row") {
    val df = ops.RelationalQueries.q_sql_small_qty_revenue(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1)
    // replay the cross-multiplied threshold with the DataFrame API:
    // qty < sum/(5n)  ⇔  5·qty·n < sum, all in exact integers
    val perPart = ops.Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n_part"),
        sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty"))
    val expect = ops.Tables.lineitem(spark, sf)
      .join(ops.Tables.part(spark, sf),
        col("l_partkey") === col("p_partkey") &&
          col("p_brand").isin("Brand#1", "Brand#2") && col("p_size") <= 25)
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(lit(5) * round(col("l_quantity") * 100).cast("long") * col("n_part")
        < col("sum_qty"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
      .head
    assert(rows.head.getLong(0) == expect.getLong(0), "row count drifted")
    assert(rows.head.getLong(1) == expect.getLong(1), "revenue drifted")
    assert(rows.head.getLong(2) == expect.getLong(1) / 7, "yearly avg drifted")
    // THE decorrelation assertion: the correlated COUNT and SUM must
    // plan as per-part aggregates joined on the correlation key — a
    // bounded number of lineitem scans (3: outer + up to one per
    // subquery), never a rescan per outer row
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def realScans(p: SparkPlan): Seq[String] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => realScans(a.executedPlan)
        case q: QueryStageExec => realScans(q.plan)
        case _: ReusedExchangeExec => Seq.empty
        case f: FileSourceScanExec => Seq(f.relation.location.rootPaths.mkString)
        case other => other.children.flatMap(realScans)
      }
      here ++ p.subqueries.flatMap(realScans)
    }
    val scans = realScans(df.queryExecution.executedPlan)
    val li = scans.count(_.contains("lineitem"))
    assert(li >= 1 && li <= 3, s"lineitem scan count not bounded: $scans")
  }

  test("dpp: join-derived month set prunes the fact scan at runtime") {
    val df = ops.RelationalQueries.q_dpp(spark, sf)
    // the fact scan must carry a LIVE dynamic pruning predicate — a
    // bare "contains(dynamicpruning)" would also match the no-op
    // fallback dynamicpruningexpression(true) that Spark substitutes
    // when it declines to prune (e.g. the dim join stops broadcasting),
    // which is exactly the regression this test exists to catch
    val factScan = df.queryExecution.executedPlan.toString
    assert(factScan.contains("dynamicpruningexpression"),
      s"expected dynamicpruningexpression on the partitioned fact scan:\n${factScan.take(4000)}")
    assert(!factScan.contains("dynamicpruningexpression(true)"),
      "dynamic pruning degenerated to the no-op fallback — nothing is pruned")
    val rows = df.collect()
    assert(rows.length == 3, s"spring 1995 spans 3 ship months, got ${rows.length}")
    assert(rows.map(_.getString(0)).toSeq == Seq("1995-03", "1995-04", "1995-05"))
    // and the pruning actually HAPPENED: the executed fact scan read
    // only the 3 matching month directories' files, not the ~80 months
    val path = ops.RelationalQueries.partitionedOrdersPath(spark, sf)
    val monthDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("o_month="))
    def filesIn(dirs: Seq[java.io.File]): Long =
      dirs.flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))).length.toLong
    val expectedFiles = filesIn(monthDirs.filter(d =>
      Seq("1995-03", "1995-04", "1995-05").exists(m => d.getName.endsWith(m))).toSeq)
    val totalFiles = filesIn(monthDirs.toSeq)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan) // AQE stages are leaves wrapping their subtree
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scansOf(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft_part_orders")) =>
        Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "partitioned fact scan not found in executed plan")
    val numFiles = scans.head.metrics("numFiles").value
    assert(numFiles == expectedFiles && numFiles < totalFiles,
      s"fact scan read $numFiles files; runtime pruning should leave $expectedFiles of $totalFiles")
  }

  test("bucketed join subtree is exchange-free (co-located scan feeds the SMJ directly)") {
    val df = ops.RelationalQueries.q_bucketed_join(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    // the ONLY hash exchange allowed is the one the groupBy introduces —
    // the join itself must be satisfied by the bucketed scans
    val hashExchanges = plan.split("Exchange hashpartitioning").length - 1
    assert(hashExchanges <= 1, s"bucketed join must not shuffle its inputs:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"scan must be bucket-aware:\n$plan")
  }

  test("shuffle-hash join picks the ShuffledHashJoin strategy (no sort passes)") {
    val plan = ops.RelationalQueries.q_shuffle_hash_join(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected a shuffled hash join:\n$plan")
  }

  test("skew join: AQE splits the planted hot partition (OptimizeSkewedJoin fires)") {
    // sf0.01 so the hot partition (~30% of lineitem on one key) clears
    // the clone's scaled-down skew thresholds; correctness at any SF is
    // the driver's hash-matched oracle
    val df = ops.RelationalQueries.q_skew_join(spark, "/root/testdata/sf0.01")
    df.collect() // AQE decides skew splits at runtime — materialize first
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected a skew-split sort-merge join in the final adaptive plan:\n$plan")
  }

  test("SQL HAVING-IN plans as semi join against the aggregated subquery, no cartesian") {
    val plan = ops.RelationalQueries.q_sql_having_in(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a left-semi join:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected partial aggregation of lineitem:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs join allowed:\n$plan")
  }

  test("SQL double-correlated EXISTS/NOT EXISTS plans as semi + anti equi-joins, no cartesian") {
    val plan = ops.RelationalQueries.q_sql_double_exists(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a left-semi join for EXISTS:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected a left-anti join for NOT EXISTS:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs join allowed:\n$plan")
  }

  test("topk per group runs two-phase salted windows (no 3-partition global sort)") {
    val plan = ops.RelationalQueries.q_topk_per_group(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("salt"), "phase-1 salted window missing")
    assert(plan.split("RunningWindowFunction|Window ").length - 1 >= 2,
      s"expected two window phases in:\n$plan")
  }

  test("sessionize: sessions partition each user's events with gaps only at boundaries") {
    val sess = ops.RelationalQueries.q_sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nEvents = ops.Tables.events(spark, sf).count()
    assert(sess.map(_._3).sum == nEvents, "sessions must cover every event exactly once")
    assert(sess.exists(_._3 > 1), "fixture must yield at least one multi-event session")
    sess.groupBy(_._1).foreach { case (user, rows) =>
      val ordered = rows.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == (1L to ordered.length).toSeq, s"session idx gap for $user")
      // consecutive sessions are separated by MORE than the gap; within a
      // session start <= end
      ordered.foreach { case (_, _, _, st, en) => assert(st <= en) }
      ordered.sliding(2).foreach {
        case Array((_, _, _, _, prevEnd), (_, _, _, nextStart, _)) =>
          assert(nextStart - prevEnd > 43_200_000_000L, s"adjacent sessions too close for $user")
        case _ =>
      }
    }
    // one exchange: all three windows + the final agg share the user_id keying
    val plan = ops.RelationalQueries.q_sessionize(spark, sf).queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"sessionize should reuse the user_id partitioning:\n$plan")
  }

  test("hll rollup: union of monthly partial sketches equals the whole-column sketch") {
    import org.apache.spark.sql.functions._
    val li = ops.Tables.lineitem(spark, sf)
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
    // the merge law that makes stored sketch state maintainable: the
    // rolled-up estimate is IDENTICAL to a one-shot sketch, not merely close
    val viaMonths = li.groupBy(col("m"))
      .agg(hll_sketch_agg(col("l_partkey"), 12).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
      .head.getLong(0)
    val direct = li
      .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), 12)).as("e"))
      .head.getLong(0)
    assert(viaMonths == direct, s"merge law broken: rollup $viaMonths vs direct $direct")
    val row = ops.RelationalQueries.q_hll_rollup(spark, sf).head
    assert(row.getBoolean(2) && row.getBoolean(3), s"witness flags false: $row")
  }

  test("bloom join: runtime filter injected on the probe side, absent by default") {
    import org.apache.spark.sql.functions._
    val plan = ops.RelationalQueries.q_bloom_join(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
      s"runtime bloom filter not injected:\n${plan.take(3000)}")
    // the probe-side filter must sit BELOW the lineitem exchange (it
    // exists to shrink the shuffle, not the join input afterwards)
    val probeFilterLine = plan.linesIterator.indexWhere(_.contains("might_contain"))
    val exchangeLine = plan.linesIterator.indexWhere(l =>
      l.contains("Exchange hashpartitioning(l_partkey"))
    assert(exchangeLine >= 0 && probeFilterLine > exchangeLine,
      s"bloom filter should prune before the probe-side exchange:\n${plan.take(3000)}")
    // same join on the default session: no runtime filter (scan
    // threshold is cluster-sized), so the demo's conf clone is load-bearing
    val plain = ops.Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_quantity"))
      .join(ops.Tables.part(spark, sf).filter(col("p_type") === "PROMO")
        .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
      .queryExecution.executedPlan.toString
    assert(!plain.contains("might_contain"))
  }

  test("sessionize_skew: chunked two-phase result equals the plain single-window form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = ops.RelationalQueries.q_sessionize_skew(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // independent plain formulation over the same planted-skew input
    val ev = ops.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"), col("event_id"))
      .withColumn("user_id",
        when(col("event_id") % 10 < 3, lit(-1L)).otherwise(col("user_id")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
    val plain = ev
      .withColumn("prev", lag(col("t_us"), 1).over(w))
      .withColumn("is_new",
        (col("prev").isNull || col("t_us") - col("prev") > 43_200_000_000L).cast("long"))
      .withColumn("session_idx",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("t_us")).as("start_us"), max(col("t_us")).as("end_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSet == plain.toSet, "chunked decomposition diverged from the plain window")
    // the skew is real: the bot owns ~30% of all events
    val nEvents = ops.Tables.events(spark, sf).count()
    val botEvents = got.filter(_._1 == -1L).map(_._3).sum
    assert(botEvents * 10 >= nEvents * 2 && botEvents * 10 <= nEvents * 4,
      s"bot should own ~30% of events, got $botEvents/$nEvents")
    // the mitigation contract: phase 1 partitions by (user_id, chunk),
    // so the bot's history spreads over many partition keys — no task
    // sees more than ~1/chunks of the hot user
    val plan = ops.RelationalQueries.q_sessionize_skew(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(user_id") && plan.contains("chunk"),
      s"phase 1 must key the exchange by (user_id, chunk):\n${plan.take(3000)}")
    val botChunks = ev.filter(col("user_id") === -1L)
      .select(floor(col("t_us") / 172_800_000_000L)).distinct().count()
    assert(botChunks >= 10, s"fixture spreads the bot over $botChunks chunks")
  }

  test("gap fill: daily grid is hole-free per user and forward-fill carries the last value") {
    import org.apache.spark.sql.functions._
    val rows = ops.RelationalQueries.q_gap_fill(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val nEvents = ops.Tables.events(spark, sf).count()
    assert(rows.map(_._3).sum == nEvents, "per-day counts must cover every event")
    val byUser = rows.groupBy(_._1)
    // replay ground truth: per (user, day) count + last-value from raw events
    val ev = ops.Tables.events(spark, sf).select(col("user_id"),
      unix_micros(col("ts")).as("t"), to_date(col("ts")).cast("string").as("day"),
      round(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    byUser.foreach { case (user, days) =>
      val ordered = days.sortBy(_._2)
      // contiguous calendar: every consecutive pair is exactly one day apart
      ordered.map(_._2).sliding(2).foreach {
        case Array(a, b) =>
          assert(java.time.LocalDate.parse(b) == java.time.LocalDate.parse(a).plusDays(1),
            s"grid hole for user $user between $a and $b")
        case _ =>
      }
      // forward fill: ff equals the cents of the latest event at or before the day
      val evU = ev.filter(_._1 == user)
      assert(evU.nonEmpty)
      ordered.foreach { case (_, day, n, ff) =>
        val upTo = evU.filter(_._3 <= day)
        val expect = if (upTo.isEmpty) None else Some(upTo.maxBy(_._2)._4)
        assert(ff == expect, s"ff for user $user day $day")
        assert(n == evU.count(_._3 == day), s"n_events for user $user day $day")
      }
    }
  }

  test("moving avg: RANGE frame covers calendar days, replayed on the driver") {
    import org.apache.spark.sql.functions._
    val got = ops.RelationalQueries.q_moving_avg(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(got.nonEmpty)
    val daily = got.map { case ((u, d), (c, _, _)) => (u, d) -> c }.toMap
    got.foreach { case ((u, d), (_, maSum, maN)) =>
      val window = (d - 6 to d).flatMap(dd => daily.get((u, dd)))
      assert(maSum == window.sum, s"range sum for user $u day $d")
      assert(maN == window.size, s"range count for user $u day $d")
    }
    // the frame is genuinely RANGE: somewhere a 7-day window holds < 7 rows
    // even though the user has >= 7 observed days in total
    val sparse = got.groupBy(_._1._1).exists { case (_, rows) =>
      rows.length >= 7 && rows.exists(_._2._3 < 7)
    }
    assert(sparse, "fixture must exercise sparse-day windows (range != rows)")
  }

  test("incremental agg: stored partials + delta equal the direct full aggregate") {
    import org.apache.spark.sql.functions._
    val got = ops.RelationalQueries.q_incremental_agg(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val direct = ops.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
        sum(round(col("l_quantity")).cast("long")).as("qty"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == direct, "merged MV state must equal the direct aggregate")
    // the merge path reads the stored state, not the base table history:
    // its scan of lineitem is only the delta month
    val deltaRows = ops.Tables.lineitem(spark, sf)
      .filter(date_format(col("l_shipdate"), "yyyy-MM") === "2001-11").count()
    assert(deltaRows > 0, "fixture must have rows in the delta month")
  }

  test("recursive CTE: BFS depths bounded, seed at depth 0, dense graph reaches beyond hop 1") {
    val r = ops.RelationalQueries.q_sql_recursive(spark, sf).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
    assert(r.nonEmpty)
    val byHost = r.map(t => t._1 -> t._2).toMap
    assert(byHost(0L) == 0, "seed host must be at depth 0")
    assert(r.forall(t => t._2 >= 0 && t._2 <= 3))
    assert(r.forall(_._3 >= 1))
    // the planted graph is dense: some host is first reached at hop >= 2,
    // so the recursion genuinely iterates past the first frontier
    assert(r.exists(_._2 >= 2), s"all hosts reached in one hop: ${r.mkString(",")}")
  }

  test("table profile: stats match a driver replay; planted nulls are counted") {
    import org.apache.spark.sql.functions._
    val got = ops.RelationalQueries.q_table_profile(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    // replay the aggregation over the same planted-null projection
    val rows = ops.Tables.lineitem(spark, sf).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_shipdate").cast("date").cast("string"),
        when(col("l_orderkey") % 13 === 0, lit(null))
          .otherwise(round(col("l_quantity") * 100).cast("long")))
      .collect()
    val n = rows.length.toLong
    def profile[T: Ordering](name: String, vs: Seq[Option[T]]) = {
      val d = vs.flatten
      (name, n, (vs.length - d.length).toLong, d.distinct.length.toLong,
        d.min.toString, d.max.toString)
    }
    val exp = Seq(
      profile("l_orderkey", rows.toSeq.map(r => Option(r.getLong(0)))),
      profile("l_linenumber", rows.toSeq.map(r => Option(r.getInt(1)))),
      profile("l_returnflag", rows.toSeq.map(r => Option(r.getString(2)))),
      profile("ship_day", rows.toSeq.map(r => Option(r.getString(3)))),
      profile("qty_cents", rows.toSeq.map(r => if (r.isNullAt(4)) None else Some(r.getLong(4)))),
    ).sortBy(_._1)
    assert(got.toSeq == exp)
    // the planted-null rule actually fired, and only on qty_cents
    val byName = got.map(t => t._1 -> t).toMap
    assert(byName("qty_cents")._3 > 0, "planted nulls missing")
    assert(got.filter(_._1 != "qty_cents").forall(_._3 == 0L))
  }

  test("corr stats: exact co-moment corr in [-1,1], native corr within 1e-6") {
    val rows = ops.RelationalQueries.q_corr_stats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val corr = r.getAs[Double]("corr_qty_price")
      assert(corr >= -1.0 && corr <= 1.0, s"corr out of range: $corr")
      assert(r.getAs[Boolean]("native_corr_ok"),
        s"native corr drifted >1e-6 from exact for ${r.getString(0)}")
      assert(r.getAs[Double]("stddev_price_cents") > 0)
    }
  }

  test("argmin join: every winner's price is its part's true minimum, ties kept") {
    import spark.implicits._
    val got = ops.RelationalQueries.q2_min_cost_supplier(spark, sf).collect()
    assert(got.nonEmpty)
    val mins = ops.Tables.lineitem(spark, sf)
      .select(col("l_partkey"), round(col("l_extendedprice") * 100).cast("long").as("c"))
      .groupBy("l_partkey").agg(min("c").as("m"))
      .as[(Long, Long)].collect().toMap
    got.foreach { r =>
      assert(r.getAs[Long]("min_cents") == mins(r.getAs[Long]("p_partkey")))
    }
    // exactly the filtered parts appear — the semi-join dropped nothing
    val expParts = ops.Tables.part(spark, sf)
      .filter(col("p_size") >= 40).select("p_partkey")
      .as[Long].collect().toSet
    assert(got.map(_.getAs[Long]("p_partkey")).toSet == expParts)
  }

  test("unpivot: long form sums back to the orders rowcount, grid complete") {
    val rows = ops.RelationalQueries.q_unpivot(spark, sf).collect()
    val nStatuses = ops.Tables.orders(spark, sf)
      .select("o_orderstatus").distinct().count()
    assert(rows.length == nStatuses * 5, "status × priority grid incomplete")
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == ops.Tables.orders(spark, sf).count())
  }

  test("ewma: first month of each series is the identity, weights telescope") {
    val rows = ops.RelationalQueries.q_ewma_smooth(spark, sf).collect()
    val bySeries = rows.groupBy(r => (r.getString(0), r.getString(1)))
    bySeries.values.foreach { series =>
      val first = series.minBy(_.getAs[String]("m"))
      assert(first.getAs[Long]("smoothed_cents") == first.getAs[Long]("rev_cents"),
        "1-tap smoothing must be identity")
      assert(first.getAs[Long]("ewma_den") == 128L)
      series.foreach { r =>
        val nTaps = r.getAs[Long]("n_taps")
        assert(r.getAs[Long]("ewma_den") == 256L - (1L << (8 - nTaps.toInt)))
      }
    }
  }

  // ------------------------- TPC-H long tail (plan shapes the oracle
  // can't see — data equality is DuckDB's job)

  test("Q13 distribution: join stays LEFT OUTER and zero-order customers are counted") {
    val df = ops.RelationalQueries.q_sql_cust_distribution(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // a WHERE-placed priority filter would let Catalyst convert the
    // outer join to inner and silently drop the c_count=0 bucket
    assert(plan.contains("LeftOuter"), s"expected an outer join:\n${plan.take(3000)}")
    val rows = df.collect()
    val zero = rows.find(_.getLong(0) == 0L)
    assert(zero.isDefined && zero.get.getLong(1) > 0,
      "customers with no urgent orders must appear as the c_count=0 bucket")
    // total histogram mass = every customer exactly once
    assert(rows.map(_.getLong(1)).sum == ops.Tables.customer(spark, sf).count())
  }

  test("Q20 excess suppliers: lineitem aggregated below TWO chained semi joins") {
    val df = ops.RelationalQueries.q_sql_excess_suppliers(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("LeftSemi".r.findAllIn(plan).size >= 2,
      s"expected chained semi joins for the nested INs:\n${plan.take(3000)}")
    assert(plan.contains("HashAggregate"),
      s"lineitem must aggregate before the supplier semi join:\n${plan.take(3000)}")
    // replay one winner's threshold from the base tables
    val winners = df.collect().map(_.getLong(0)).toSet
    if (winners.nonEmpty) {
      val qty = ops.Tables.lineitem(spark, sf)
        .join(ops.Tables.part(spark, sf).filter(col("p_name").startsWith("red"))
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("l_suppkey").agg(sum(round(col("l_quantity")).cast("long")).as("q"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      winners.foreach(sk => assert(qty.getOrElse(sk, 0L) > 300,
        s"supplier $sk returned without exceeding the quantity threshold"))
    }
  }

  test("Q19 disjunctive predicate: equi-join extracted, OR stays as a residual filter") {
    val df = ops.RelationalQueries.q_sql_disjunctive_scan(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the disjunction references both sides, but p_partkey = l_partkey
    // must still come out as a hash-join key — never a nested loop
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"expected an equi join:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    // the part-only projection of the OR is pushable: the part scan
    // must not read the whole table (brand/size bounds reach the scan)
    val one = df.head()
    assert(one.getLong(1) > 0, "fixture must satisfy at least one disjunct")
  }

  test("Q11 important parts: every kept part clears the global-fraction threshold") {
    val rows = ops.RelationalQueries.q_sql_important_parts(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = ops.Tables.lineitem(spark, sf)
      .join(ops.Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(ops.Tables.nation(spark, sf).filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))).head.getLong(0)
    rows.foreach(r => assert(r.getLong(1) * 1000 > total,
      s"part ${r.getLong(0)} kept below threshold"))
    // and the scalar subquery planned as a subquery, not a rescan join
    val plan = ops.RelationalQueries.q_sql_important_parts(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Subquery") || plan.contains("subquery"),
      s"expected a scalar subquery node:\n${plan.take(3000)}")
  }

  test("Q8 market share: numerator bounded by denominator, both years present") {
    val rows = ops.RelationalQueries.q_sql_market_share(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSet == Set(1995, 1996))
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= r.getLong(2),
        s"share numerator out of bounds: $r")
    }
  }

  test("Q12 priority shipping: high+low equals a direct replay of the late-line count") {
    val rows = ops.RelationalQueries.q_sql_priority_shipping(spark, sf).collect()
    assert(rows.nonEmpty)
    val replay = ops.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(ops.Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + org.apache.spark.sql.functions.expr("INTERVAL 60 DAY"))
      .count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == replay)
  }

  test("Q22 idle customers: every counted customer is genuinely idle and above average") {
    val rows = ops.RelationalQueries.q_sql_idle_customers(spark, sf).collect()
    assert(rows.nonEmpty)
    val cust = ops.Tables.customer(spark, sf)
    val recent = ops.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val avg = cust
      .filter(col("c_acctbal") > 0 && (col("c_nationkey") % 10).isin(1, 2, 3, 4, 5))
      .agg(org.apache.spark.sql.functions.avg(round(col("c_acctbal") * 100).cast("long")))
      .head.getDouble(0)
    val idle = cust
      .filter((col("c_nationkey") % 10).isin(1, 2, 3, 4, 5) &&
        round(col("c_acctbal") * 100).cast("long") > avg)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .count()
    assert(rows.map(_.getLong(1)).sum == idle)
  }

  test("windowed distinct count: per-user non-decreasing, ends at true distinct") {
    import spark.implicits._
    val rows = ops.RelationalQueries.q_window_cum_distinct(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val trueDistinct = ops.Tables.events(spark, sf)
      .groupBy("user_id").agg(countDistinct("event_type").as("n"))
      .as[(Long, Long)].collect().toMap
    rows.groupBy(_._1).foreach { case (user, evs) =>
      val cums = evs.sortBy(e => (e._2, e._3)).map(_._4)
      assert(cums.zip(cums.tail).forall { case (a, b) => b >= a },
        s"user $user cum distinct not monotone")
      assert(cums.last == trueDistinct(user), s"user $user final distinct wrong")
    }
  }

  test("funnel: stages strictly narrow, window binds, driver replay agrees") {
    import spark.implicits._
    val rows = ops.RelationalQueries.q_funnel(spark, sf)
      .as[(Int, String, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq("view", "click", "purchase"))
    val counts = rows.map(_._3)
    // every stage non-vacuous AND strictly narrowing (the 12 h window bites)
    assert(counts.forall(_ > 0) && counts(0) > counts(1) && counts(1) > counts(2),
      s"funnel not strictly narrowing: ${counts.toSeq}")
    // driver replay of the full per-user walk
    val W = 43_200_000_000L
    val byUser = ops.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("t"))
      .as[(Long, String, Long)].collect().groupBy(_._1)
    def firstIn(evs: Array[(Long, String, Long)], t: String, lo: Long): Option[Long] =
      evs.filter(e => e._2 == t && e._3 > lo && e._3 <= lo + W)
        .map(_._3).sorted.headOption
    var (s2, s3, lat2, lat3) = (0L, 0L, 0L, 0L)
    byUser.foreach { case (_, evs) =>
      val tv = evs.filter(_._2 == "view").map(_._3).sorted.headOption
      val tc = tv.flatMap(firstIn(evs, "click", _))
      val tp = tc.flatMap(firstIn(evs, "purchase", _))
      tc.foreach { t => s2 += 1; lat2 += (t - tv.get) / 1000000L }
      tp.foreach { t => s3 += 1; lat3 += (t - tv.get) / 1000000L }
    }
    assert((counts(1), counts(2)) == ((s2, s3)))
    assert((rows(1)._4, rows(2)._4) == ((lat2, lat3)))
  }

  test("cohort retention: offset-0 is the full cohort, matrix bounded by activity") {
    import spark.implicits._
    val rows = ops.RelationalQueries.q_cohort_retention(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall(_._2 >= 0))
    val cohortSizes = ops.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().count()
    assert(rows.map(_._3).sum >= cohortSizes, "each purchaser is active >= 1 week")
    // offset 0 counts every cohort member: the purchase itself is activity
    val off0 = rows.filter(_._2 == 0L).map(_._3).sum
    assert(off0 == cohortSizes, s"offset-0 total $off0 != cohort total $cohortSizes")
    // no offset row exceeds its cohort's size
    val size = rows.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    rows.foreach { r => assert(r._3 <= size(r._1), s"offset ${r._2} exceeds cohort") }
    // retention within a cohort is non-increasing is NOT generally true
    // (activity fluctuates) — but the span is bounded by the fixture month
    assert(rows.map(_._2).max <= 5)
  }

  test("join-MV delta: all four quadrants non-empty, merged view = direct aggregate") {
    val li = ops.Tables.lineitem(spark, sf)
    val ord = ops.Tables.orders(spark, sf)
    val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(((col("l_orderkey") + col("l_linenumber")) % 5 === 0).as("ld"),
        (col("o_orderkey") % 7 === 0).as("od"))
      .groupBy("ld", "od").count().collect()
    assert(j.length == 4, s"expected 4 join quadrants, got ${j.length}")
    j.foreach(r => assert(r.getLong(2) > 0, s"empty quadrant $r"))
    // merged delta view equals the direct aggregate the oracle computes
    val got = ops.RelationalQueries.q_mv_join_delta(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val direct = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"),
        org.apache.spark.sql.functions.date_format(col("l_shipdate"), "yyyy-MM").as("m"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"),
        count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == direct)
  }
}
